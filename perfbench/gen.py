"""Seeded input generator for the graft benchmark.

Every workload's inputs are synthesized here from the workload seed alone:
the same seed gives byte-identical files, a different seed gives different
rows.  Nothing is read from outside the output directory.  Alongside the
inputs the generator returns the *expected* results its own spec implies,
which `check.py` compares against what graft committed.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
BASE_DAY = (dt.date(1992, 1, 1) - EPOCH).days
BASE_TS_US = BASE_DAY * 86_400_000_000

# ---- el_csv_bulk -----------------------------------------------------------

CSV_ROWS_PER_REPLICA = 80_000
CSV_REPLICAS = 2
CSV_FILES = 4
# comment vocabulary; quoting-relevant variants are planted below
COMMENT_WORDS = ("carefully final deposits sleep quickly regular accounts "
                 "haggle furiously ironic packages boost blithely express "
                 "requests detect slyly pending theodolites").split()

# the task the benchmark runs; `{src}` / `{tgt}` are filled per iteration
CSV_TASK = """source:
  stream: {src}
  format: csv
  select: [l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag, l_shipdate, l_comment]
  where: "l_quantity >= 5"
transforms:
  l_returnflag: "lower(l_returnflag)"
  l_disc_pct: "cast(round(l_discount * 100) as int)"
columns:
  l_orderkey: bigint
  l_partkey: bigint
  l_suppkey: bigint
  l_extendedprice: decimal(12,2)
  l_discount: decimal(4,2)
  l_shipdate: date
target:
  object: {tgt}
  format: delta
  mode: full-refresh
"""


def _comment(rng, n):
    """Free-text comments; ~15% carry a comma and ~6% a doubled quote, so
    the file needs RFC-4180 quoting, but none spans lines."""
    words = np.array(COMMENT_WORDS)
    k = rng.integers(2, 7, n)
    idx = rng.integers(0, len(words), (n, 6))
    kind = rng.random(n)
    out = []
    for i in range(n):
        s = " ".join(words[idx[i, :k[i]]])
        if kind[i] < 0.15:
            s = s.replace(" ", ", ", 1)
        elif kind[i] < 0.21:
            s = 'said "' + s + '"'
        out.append(s)
    return out


def _csv_field(s):
    if any(c in s for c in ',"\n\r'):
        return '"' + s.replace('"', '""') + '"'
    return s


def gen_csv(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = CSV_ROWS_PER_REPLICA
    orderkey = np.sort(rng.integers(1, n // 2, n))
    linenumber = np.ones(n, dtype=np.int64)
    linenumber[1:] = np.where(orderkey[1:] == orderkey[:-1], 0, 1)
    # running line number within each order
    grp = np.cumsum(linenumber) - 1
    starts = np.flatnonzero(linenumber)
    linenumber = np.arange(n) - starts[grp] + 1
    partkey = rng.integers(1, 20_000, n)
    suppkey = rng.integers(1, 1_000, n)
    quantity = rng.integers(1, 51, n)
    price_cents = quantity * rng.integers(90_000, 200_000, n) // 100
    discount = rng.integers(0, 11, n)  # hundredths
    tax = rng.integers(0, 9, n)
    rflag = np.array(list("ANR"))[rng.integers(0, 3, n)]
    lstatus = np.array(list("OF"))[rng.integers(0, 2, n)]
    shipday = BASE_DAY + rng.integers(0, 2_400, n)
    comment = _comment(rng, n)

    header = ("l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,"
              "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,"
              "l_shipdate,l_comment\n")
    src = os.path.join(out, "csv")
    os.makedirs(src, exist_ok=True)
    per_file = (n * CSV_REPLICAS + CSV_FILES - 1) // CSV_FILES
    key_stride = int(orderkey.max())
    # everything after the order key is the same in every replica
    rest = [f",{p},{s},{ln},{q},{c // 100}.{c % 100:02d},0.{d:02d},0.{t:02d},"
            f"{rf},{ls},{_day(sd)},{_csv_field(cm)}\n"
            for p, s, ln, q, c, d, t, rf, ls, sd, cm in zip(
                partkey.tolist(), suppkey.tolist(), linenumber.tolist(),
                quantity.tolist(), price_cents.tolist(), discount.tolist(),
                tax.tolist(), rflag.tolist(), lstatus.tolist(),
                shipday.tolist(), comment)]
    lines = [f"{ok + r * key_stride}{tail}"
             for r in range(CSV_REPLICAS)
             for ok, tail in zip(orderkey.tolist(), rest)]
    for f in range(CSV_FILES):
        part = lines[f * per_file:(f + 1) * per_file]
        with open(os.path.join(src, f"part-{f:02d}.csv"), "w",
                  encoding="utf-8", newline="") as fh:
            fh.write(header)
            fh.writelines(part)

    # expected committed table: the task's select/where/transforms/columns
    keep = quantity >= 5
    reps = CSV_REPLICAS
    expected = pa.table({
        "l_orderkey": pa.array(np.concatenate(
            [orderkey[keep] + r * key_stride for r in range(reps)])),
        "l_partkey": pa.array(np.tile(partkey[keep], reps)),
        "l_suppkey": pa.array(np.tile(suppkey[keep], reps)),
        "l_linenumber": pa.array(np.tile(linenumber[keep], reps)),
        "l_quantity": pa.array(np.tile(quantity[keep], reps)),
        "l_extendedprice": pa.array(
            [Decimal(int(c)).scaleb(-2) for c in price_cents[keep]] * reps,
            pa.decimal128(12, 2)),
        "l_discount": pa.array(
            [Decimal(int(d)).scaleb(-2) for d in discount[keep]] * reps,
            pa.decimal128(4, 2)),
        "l_returnflag": pa.array(np.tile(np.char.lower(rflag[keep]), reps)),
        "l_shipdate": pa.array(np.tile(shipday[keep], reps).astype(np.int32),
                               pa.date32()),
        "l_comment": pa.array(
            [c for c, k in zip(comment, keep) if k] * reps),
        "l_disc_pct": pa.array(np.tile(discount[keep], reps)),
    })
    pq.write_table(expected, os.path.join(out, "expected.parquet"))
    spec = {"workload": "el_csv_bulk", "seed": seed,
            "rows": n * reps, "committed_rows": int(keep.sum()) * reps,
            "input_bytes": _du(src), "task": CSV_TASK}
    return spec


def _day(d):
    return (EPOCH + dt.timedelta(days=d)).isoformat()


def _du(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---- el_repl_incremental ---------------------------------------------------

REPL_SF = 0.04
REPL_SNAPSHOTS = 5  # initial load + up to 4 incremental iterations
REPL_CHANGE = 0.01  # share of rows updated, and share added, per snapshot

REPL_YAML = """defaults:
  mode: full-refresh
streams:
  region:
  nation:
  supplier:
  part:
  documents:
  embeddings:
  customer:
    mode: incremental
    primary_key: [c_custkey]
    update_key: c_updated_at
  orders:
    mode: incremental
    primary_key: [o_orderkey]
    update_key: o_updated_at
  lineitem:
    mode: incremental
    primary_key: [l_orderkey, l_linenumber]
    update_key: l_updated_at
  events:
    mode: incremental
    update_key: event_id
"""
INCREMENTAL = ("customer", "orders", "lineitem", "events")


def _words(rng, vocab, n, lo, hi):
    k = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(vocab), (n, hi))
    return [" ".join(vocab[j] for j in idx[i, :k[i]]) for i in range(n)]


def _repl_base(rng, sf):
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    ts0 = np.int64(BASE_TS_US)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION{i:02d}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)],
        "c_updated_at": np.full(n_cust, ts0)}
    t["supplier"] = {
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}
    t["part"] = {
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": _words(rng, COMMENT_WORDS, n_part, 2, 4),
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                            "ECONOMY", "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)}
    o_key = np.arange(1, n_ord + 1, dtype=np.int64)
    t["orders"] = {
        "o_orderkey": o_key,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": np.array(list("FOP"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": ts0 + rng.integers(0, 2400, n_ord) * 86_400_000_000,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
        "o_updated_at": np.full(n_ord, ts0)}
    li_order = np.sort(rng.integers(1, n_ord + 1, n_li))
    first = np.ones(n_li, dtype=bool)
    first[1:] = li_order[1:] != li_order[:-1]
    starts = np.flatnonzero(first)
    li_line = (np.arange(n_li) - starts[np.cumsum(first) - 1] + 1)
    qty = rng.integers(1, 51, n_li)
    t["lineitem"] = {
        "l_orderkey": li_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": li_line.astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(list("OF"))[rng.integers(0, 2, n_li)],
        "l_shipdate": ts0 + rng.integers(0, 2500, n_li) * 86_400_000_000,
        "l_updated_at": np.full(n_li, ts0)}
    t["events"] = {
        "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
        "ts": ts0 + np.sort(rng.integers(0, 86_400_000_000 * 30, n_ev)),
        "user_id": rng.integers(1, 10_000, n_ev),
        "event_type": np.array(["view", "click", "cart", "buy"])[
            rng.integers(0, 4, n_ev)],
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k":{k}}}' for k in rng.integers(0, 100, n_ev)]}
    docs = corpus_table(rng, n_doc)
    t["documents"] = {c: docs.column(c) for c in docs.column_names}
    t["embeddings"] = {
        "vec_id": np.arange(1, n_vec + 1, dtype=np.int64),
        "embedding": pa.array(list(rng.random((n_vec, 8), dtype=np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)}
    return t


TS_COLS = {"c_updated_at", "o_orderdate", "o_updated_at", "l_shipdate",
           "l_updated_at", "ts"}


def _arrow(cols):
    arrays = {}
    for k, v in cols.items():
        if k in TS_COLS:
            arrays[k] = pa.array(np.asarray(v, dtype=np.int64), pa.timestamp("us"))
        elif isinstance(v, (pa.Array, pa.ChunkedArray)):
            arrays[k] = v
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def _advance(rng, name, tab, i):
    """Snapshot i from snapshot i-1: ~1% of rows updated (value changed,
    update key bumped) and ~1% new rows; events only appends.  Returns
    (unchanged rows, delta rows)."""
    n = tab.num_rows
    n_new = max(1, int(n * REPL_CHANGE))
    ts = BASE_TS_US + i * 3_600_000_000
    if name == "events":
        last = tab.column("event_id")[-1].as_py()
        new = {
            "event_id": np.arange(last + 1, last + 1 + n_new, dtype=np.int64),
            "ts": np.full(n_new, BASE_TS_US + 86_400_000_000 * 30) + i * 1000
            + np.arange(n_new),
            "user_id": rng.integers(1, 10_000, n_new),
            "event_type": np.array(["view", "click", "cart", "buy"])[
                rng.integers(0, 4, n_new)],
            "value": np.round(rng.uniform(0, 500, n_new), 2),
            "props": [f'{{"k":{k}}}' for k in rng.integers(0, 100, n_new)]}
        return tab, _arrow(new)
    upd = np.zeros(n, dtype=bool)
    upd[rng.choice(n, n_new, replace=False)] = True
    kept = tab.filter(pa.array(~upd))
    changed = tab.filter(pa.array(upd))
    new = tab.take(pa.array(np.sort(rng.choice(n, n_new, replace=False))))

    def put(t, col, values):
        return t.set_column(t.schema.get_field_index(col), col,
                            pa.array(values, t.schema.field(col).type))

    m = changed.num_rows
    key, upd_col = {"customer": ("c_custkey", "c_updated_at"),
                    "orders": ("o_orderkey", "o_updated_at"),
                    "lineitem": ("l_orderkey", "l_updated_at")}[name]
    base = int(pc.max(tab.column(key)).as_py())
    new = put(new, key, np.arange(base + 1, base + 1 + n_new))
    new = put(new, upd_col, np.full(n_new, ts))
    changed = put(changed, upd_col, np.full(m, ts))
    if name == "customer":
        changed = put(changed, "c_acctbal", np.round(rng.uniform(-999, 9999, m), 2))
        new = put(new, "c_name", [f"Customer#{k:09d}" for k in
                                  range(base + 1, base + 1 + n_new)])
    elif name == "orders":
        changed = put(changed, "o_totalprice",
                      np.round(rng.uniform(1000, 400000, m), 2))
        changed = put(changed, "o_orderstatus", ["F"] * m)
    else:
        q = rng.integers(1, 51, m)
        changed = put(changed, "l_quantity", q.astype(np.float64))
        changed = put(changed, "l_extendedprice",
                      np.round(q * rng.uniform(900, 2000, m), 2))
        new = put(new, "l_linenumber", np.ones(n_new, dtype=np.int32))
    return kept, pa.concat_tables([changed, new])


def gen_repl(seed, out):
    rng = np.random.default_rng([seed, 2])
    base = {k: _arrow(v) for k, v in _repl_base(rng, REPL_SF).items()}
    cur = {k: base[k] for k in INCREMENTAL}
    snaps = []
    for i in range(REPL_SNAPSHOTS):
        sdir = os.path.join(out, f"snap{i:02d}")
        # full-refresh tables never change: later snapshots link snapshot 0's
        for name in base:
            if name in INCREMENTAL:
                continue
            dst = os.path.join(sdir, f"{name}.parquet", "part-00000.parquet")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if i == 0:
                pq.write_table(base[name], dst)
            else:
                os.link(os.path.join(out, "snap00", f"{name}.parquet",
                                     "part-00000.parquet"), dst)
        delta_rows, delta_bytes = 0, 0
        for name in INCREMENTAL:
            d = os.path.join(sdir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            if i == 0:
                pq.write_table(cur[name], os.path.join(d, "part-00000.parquet"))
                continue
            kept, delta = _advance(rng, name, cur[name], i)
            pq.write_table(kept, os.path.join(d, "part-00000.parquet"))
            dpath = os.path.join(d, "part-00001.parquet")
            pq.write_table(delta, dpath)
            cur[name] = pa.concat_tables([kept, delta])
            delta_rows += delta.num_rows
            delta_bytes += os.path.getsize(dpath)
        snaps.append({"dir": os.path.basename(sdir), "delta_rows": delta_rows,
                      "delta_bytes": delta_bytes,
                      "rows": {k: (cur[k].num_rows if k in cur else
                                   base[k].num_rows) for k in base}})
    return {"workload": "el_repl_incremental", "seed": seed, "sf": REPL_SF,
            "replication": REPL_YAML, "snapshots": snaps,
            "tables": sorted(base)}


# ---- curate_corpus ---------------------------------------------------------

CORPUS_DOCS = 3_000
# per-language vocabularies: langid profiles separate on them, and the
# English LM / quality model train on the `en` share
VOCAB = {
    "en": ("the of and to in is that for it with as was on be by this are "
           "from at or have an they which one you were all we her she there "
           "would their will when who him been has more if no out so said "
           "what up its about than into them can only other new some could "
           "time these two may then do first any my now such like our over "
           "man me even most made after also did many before must through "
           "years where much your way well down should because each just "
           "those people how too little state good very make world still "
           "see own men work long here get both between life being under "
           "never day same another know while last might us great old year "
           "off come since against go came right used take three").split(),
    "de": ("der die und in den von zu das mit sich des auf für ist im dem "
           "nicht ein eine als auch es an werden aus er hat dass sie nach wird "
           "bei einer um am sind noch wie einem über einen so zum war haben "
           "nur oder aber vor zur bis mehr durch man sein wurde sei").split(),
    "fr": ("de la le et les des en un du une que est pour qui dans par plus "
           "pas au sur ne se sont il avec ce ou mais comme on tout nous sa "
           "fait été aussi leur bien peut ces deux ans encore entre elle "
           "très même faire sans autre après").split(),
    "es": ("de la que el en y los del se las por un para con no una su al es "
           "lo como más pero sus le ya o fue este ha sí porque esta son entre "
           "cuando muy sin sobre también me hasta hay donde quien desde todo "
           "nos durante todos uno les ni contra otros").split(),
    "zh": ("de shi yi bu le zai ren you wo ta zhe ge men zhong lai shang da "
           "wei he guo di dao yi shuo jiu chu yao ye sheng nian dui xia jia "
           "zi xue hui ke guo fa neng dong cheng hou zuo li ru qi xin").split(),
}
LANG_SHARE = (("en", 0.40), ("de", 0.15), ("fr", 0.15), ("es", 0.15),
              ("zh", 0.15))


def corpus_table(rng, n):
    langs = np.array([l for l, _ in LANG_SHARE])
    lang = langs[rng.choice(len(langs), n, p=[p for _, p in LANG_SHARE])]
    n_words = rng.integers(8, 90, n)
    texts = []
    for i in range(n):
        vocab = VOCAB[lang[i]]
        # Zipf-like word choice, a few English loan words in every language
        idx = np.minimum(rng.zipf(1.3, n_words[i]) - 1, len(vocab) - 1)
        words = [vocab[j] for j in idx]
        if lang[i] != "en" and rng.random() < 0.3:
            words[rng.integers(0, len(words))] = VOCAB["en"][rng.integers(0, 40)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 3])
    tab = corpus_table(rng, CORPUS_DOCS)
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tab, os.path.join(d, "part-00000.parquet"))
    return {"workload": "curate_corpus", "seed": seed, "docs": CORPUS_DOCS,
            "input_bytes": _du(d)}


GENERATORS = {"el_csv_bulk": gen_csv, "el_repl_incremental": gen_repl,
              "curate_corpus": gen_corpus}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    spec = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "spec.json"), "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
    return spec


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
