"""Output checks for the graft benchmark.

Each check compares what graft committed in one iteration against what the
generator's spec implies, with DuckDB as an engine independent of the
program under test.  `check(...)` returns one error string (or None) per
iteration of the run.
"""
import glob
import json
import os

import duckdb


def _files(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def _delta_files(table):
    """Live data files of a Delta-lite table, by replaying its JSON log."""
    live = set()
    for f in sorted(glob.glob(os.path.join(table, "_delta_log", "*.json"))):
        with open(f) as fh:
            for line in fh:
                act = json.loads(line)
                if "add" in act:
                    live.add(act["add"]["path"])
                elif "remove" in act:
                    live.discard(act["remove"]["path"])
    return [os.path.join(table, p) for p in sorted(live)]


def checksum(con, relation):
    """Row count, column names and an order-independent per-column hash sum.
    Timestamps compare as epoch microseconds, so a zoned and an unzoned
    column holding the same instant agree; everything else compares by its
    text form, which pins decimal scale and date layout."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = ["count(*)"]
    for name, typ, *_ in cols:
        q = f'"{name}"'
        canon = (f"epoch_us({q})" if "TIMESTAMP" in typ
                 else f"CAST({q} AS VARCHAR)")
        parts.append(f"sum(hash({canon}))")
    row = con.execute(f"SELECT {', '.join(parts)} FROM {relation}").fetchone()
    return {"rows": row[0], "columns": sorted(c[0] for c in cols),
            "hash": [str(v) for v in row[1:]],
            "order": [c[0] for c in cols]}


def _same(a, b):
    if a["rows"] != b["rows"]:
        return f"rows {a['rows']} != expected {b['rows']}"
    if a["columns"] != b["columns"]:
        return f"columns {a['columns']} != expected {b['columns']}"
    ha = dict(zip(a["order"], a["hash"]))
    hb = dict(zip(b["order"], b["hash"]))
    bad = [c for c in a["columns"] if ha[c] != hb[c]]
    return f"checksum mismatch in {bad}" if bad else None


def _scan(files):
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def check_csv(spec, work, iters):
    con = duckdb.connect()
    want = checksum(con, _scan([os.path.join(work, "in", "expected.parquet")]))
    errs = []
    for it in iters:
        files = _delta_files(os.path.join(work, "out", "tgt",
                                          f"iter{it['k']:03d}"))
        errs.append(_same(checksum(con, _scan(files)), want) if files
                    else "no committed files")
    return errs


def check_repl(spec, work, iters):
    con = duckdb.connect()
    errs = []
    for it in iters:
        k = it["k"]
        snap = os.path.join(work, "in", spec["snapshots"][k]["dir"])
        err = None
        for t in spec["tables"]:
            got = _files(os.path.join(work, "out", "check", f"iter{k:03d}", t))
            if not got:
                err = f"{t}: no committed files"
                break
            want = _files(os.path.join(snap, f"{t}.parquet"))
            e = _same(checksum(con, _scan(got)), checksum(con, _scan(want)))
            if e:
                err = f"{t}: {e}"
                break
        errs.append(err)
    return errs


def _fixture_text(doc_id, text):
    """The refinedweb fixture's planted text for one document (mirrors
    `TrainingData.refinedWebFixture`)."""
    const_a = ("nearly identical mirrored article body token01 token02 "
               "token03 token04 token05 token06 token07 token08 token09 "
               "token10 token11 token12 token13 token14 token15 token16 "
               "token17 token18")
    s = "le la et les des le la et les des " if doc_id % 11 == 3 else ""
    body = {7: "identical duplicate page body repeated verbatim across many "
               "crawled mirrors tonight",
            8: const_a, 9: const_a + " extratoken"}.get(doc_id % 23, text)
    s += body
    if doc_id % 9 == 4:
        s += " buy now" * 40
    if doc_id % 17 == 6:
        s += " lorem ipsum"
    if doc_id % 13 == 11:
        s += (" shared verbatim boilerplate sentence spanning twelve whole "
              "tokens for substring dedup")
    return s


def _rw_planted(con, rel, docs):
    """Planted-family checks on one refinedweb result."""
    rows = con.execute(
        f"SELECT doc_id, url_keep, neardup_ok, keep_final, canon_ok, "
        f"pred_lang, qual_ok, cap_ok, n_tokens FROM {rel}").fetchall()
    if len(rows) != len(docs):
        return f"refinedweb rows {len(rows)} != documents {len(docs)}"
    fam = {}
    budget = 0
    for (d, url_keep, nd, keep, canon, lang, qual, cap, ntok) in rows:
        if d % 10 in (0, 1) and (url_keep or keep):
            return f"refinedweb kept blocked url doc {d}"
        if keep and not (url_keep and canon and lang == "en" and qual
                         and nd and cap):
            return f"refinedweb keep_final without every stage: doc {d}"
        if keep:
            budget += ntok or 0
        if nd:
            fam.setdefault(_fixture_text(d, docs[d]), []).append(d)
    dup = [ids for ids in fam.values() if len(ids) > 1]
    if dup:
        return f"refinedweb kept near-dup family members {dup[0][:4]}"
    if budget > 5000:
        return f"refinedweb budget {budget} tokens > 5000"
    return None


def check_curate(spec, work, iters):
    con = duckdb.connect()
    docs_glob = os.path.join(work, "in", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_glob}')")
    with open(os.path.join(work, "out", "ccnet_oracle.sql")) as fh:
        oracle = fh.read()
    cols = "doc_id, pred_lang, ppl_bucket, keep, keep_final"
    want = con.execute(f"SELECT {cols} FROM ({oracle}) ORDER BY doc_id"
                       ).fetchall()
    docs = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    errs, first_rw = [], None
    for it in iters:
        base = os.path.join(work, "out", "tgt")
        cc_files = _files(os.path.join(base, "ccnet", f"iter{it['k']:03d}"))
        rw_files = _files(os.path.join(base, "rw", f"iter{it['k']:03d}"))
        if not cc_files or not rw_files:
            errs.append("no committed files")
            continue
        cc, rw = _scan(cc_files), _scan(rw_files)
        got = con.execute(f"SELECT {cols} FROM {cc} ORDER BY doc_id").fetchall()
        err = None
        if got != want:
            diff = next((g, w) for g, w in zip(got + [None] * len(want),
                                               want + [None] * len(got))
                        if g != w)
            err = f"ccnet differs from the DuckDB oracle: {diff}"
        rw_sum = checksum(con, rw)
        if err is None:
            if first_rw is None:
                first_rw = rw_sum
                err = _rw_planted(con, rw, docs)
            elif rw_sum != first_rw:
                err = "refinedweb output differs from the first iteration"
        errs.append(err)
    return errs


CHECKS = {"el_csv_bulk": check_csv, "el_repl_incremental": check_repl,
          "curate_corpus": check_curate}


def check(workload, spec, work, iters):
    return CHECKS[workload](spec, work, iters)
