package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{ArrayFold, GramBuckets, TextGrams}

/** Pins every r18 compiled kernel to its original higher-order-function
  * expression form: both are evaluated side by side over adversarial
  * inputs (NULLs, empties, unicode multibyte, whitespace variants,
  * duplicate-heavy arrays) and must collect EXACTLY equal values. The
  * kernels exist purely for speed (interpreted HOF → compiled loop,
  * guide §4); any semantic divergence is a correctness bug, and these
  * tests are the local gate ahead of the DuckDB oracle.
  */
class KernelEquivalenceSpec extends AnyFunSuite with SparkSuite {

  private def texts: DataFrame = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",                       // heavy duplication
      "",                                // empty
      " leading and trailing ",          // empty split tokens
      "a  b   c",                        // doubled/tripled spaces
      "één żółć 中文 字 中文 字 tokens",   // multibyte
      "one\ntwo\tthreefour\ffive\rsix", // every ws class char
      "short",
      "x y",
      "tie tie alpha alpha beta"         // run ties
    ).toDF("text")
      .unionByName(Seq(Option.empty[String]).toDF("text")) // NULL row
  }

  /** Collects both columns and asserts row-wise exact equality. A
    * same-position NaN pair counts as equal (primitive NaN == NaN is
    * false, but the VALUES agree — compared via the string form, which
    * also distinguishes -0.0 from 0.0). */
  private def assertSame(df: DataFrame, oldCol: Column, newCol: Column): Unit = {
    val rows = df.select(oldCol.as("o"), newCol.as("n")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val same = r.get(0) == r.get(1) ||
        String.valueOf(r.get(0)) == String.valueOf(r.get(1))
      assert(same, s"row $i: old=${r.get(0)} new=${r.get(1)}")
    }
  }

  test("char_ngrams == transform(sequence, substr) form") {
    val t = col("text")
    for (n <- Seq(1, 3, 7))
      assertSame(texts,
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - n + 1),
            i => t.substr(i, lit(n))))
          .otherwise(array().cast("array<string>")),
        coalesce(TextGrams.char_ngrams(t, n),
          array().cast("array<string>")))
  }

  test("sliding_join == transform(sequence, concat_ws(slice)) form") {
    val toks = split(col("text"), " ")
    for (n <- Seq(1, 2, 3))
      assertSame(texts,
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>")),
        coalesce(TextGrams.sliding_join(toks, n, " "),
          array().cast("array<string>")))
  }

  test("sliding_join_hash == xxhash64 over the joined window, incl. null units") {
    import spark.implicits._
    // arrays WITH null elements (concat_ws skips them without doubling
    // the separator) — firstOccurrenceDedup's units never carry nulls,
    // but the kernel must still match the builtin on them
    val arrs = Seq(
      Seq[String]("a", "b", "c", "d"),
      Seq[String]("a", null, "b"),
      Seq[String](null, null),
      Seq[String]("solo"),
      Seq[String]()
    ).toDF("us").unionByName(
      Seq(Option.empty[Seq[String]]).toDF("us"))
    val us = col("us")
    for (n <- Seq(1, 2, 3); delim <- Seq(" ", "\n"))
      assertSame(arrs,
        when(size(us) >= n,
          transform(sequence(lit(0), size(us) - n),
            i => xxhash64(concat_ws(delim, slice(us, i + 1, lit(n))))))
          .otherwise(array().cast("array<bigint>")),
        coalesce(TextGrams.sliding_join_hash(us, n, delim),
          array().cast("array<bigint>")))
  }

  test("shingles == array_distinct(transform) with whole-text fallback") {
    val t = col("text")
    for (n <- Seq(2, 3, 5)) {
      val toks = split(t, " ")
      assertSame(texts,
        when(size(toks) >= n,
          array_distinct(transform(
            sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
          .otherwise(array(t)),
        TextGrams.shingles(t, n))
    }
  }

  test("run_top_uniq == sorted-run aggregate over gram arrays") {
    val toks = split(col("text"), " ")
    val grams = coalesce(TextGrams.sliding_join(toks, 2, " "),
      array().cast("array<string>"))
    val oldStats = aggregate(array_sort(grams),
      struct(lit(null).cast("string").as("prev"), lit(0).as("cur"),
        lit(0).as("top"), lit(0).as("uniq")),
      (acc, g) => {
        val same = acc.getField("prev") <=> g
        val cur2 = when(same, acc.getField("cur") + 1).otherwise(lit(1))
        struct(g.as("prev"), cur2.as("cur"),
          greatest(acc.getField("top"), cur2).as("top"),
          (acc.getField("uniq") +
            when(!same && acc.getField("cur") === 1, 1).otherwise(0))
            .as("uniq"))
      },
      acc => struct(acc.getField("top").as("top"),
        (acc.getField("uniq") +
          when(acc.getField("cur") === 1, 1).otherwise(0)).as("uniq")))
    assertSame(texts, oldStats, TextGrams.run_top_uniq(grams))
  }

  test("ws_tokens == filter(split('[ \\t\\n\\x0B\\f\\r]+'), _ != '')") {
    val t = col("text")
    assertSame(texts,
      filter(split(t, "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= lit("")),
      TextGrams.ws_tokens(t))
  }

  test("unigrams_bigrams == concat(toks, zip_with(slice, slice, concat))") {
    val toks = TextGrams.ws_tokens(col("text"))
    val bl = greatest(size(toks) - 1, lit(0))
    assertSame(texts,
      concat(toks, zip_with(slice(toks, lit(1), bl), slice(toks, lit(2), bl),
        (a, b) => concat(a, lit(" "), b))),
      TextGrams.unigrams_bigrams(toks))
  }

  test("marker_best_lang == strictly-greater argmax over marker counts") {
    import graft.functions.TextAnalysis
    val t = col("text")
    val scores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val stops = array(markers.map(lit): _*)
      lang -> size(filter(split(t, " "), x => array_contains(stops, x)))
    }
    val oldLang = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
    // fr/es markers planted so non-first languages win; ties keep "en"
    import spark.implicits._
    val langTexts = texts.unionByName(Seq(
      "le la et le chat", "el los las y", "the der the der",
      "的 是 了").toDF("text"))
    assertSame(langTexts, oldLang,
      coalesce(TextGrams.marker_best_lang(t, TextAnalysis.langMarkers),
        lit(TextAnalysis.langMarkers.head._1)))
  }

  test("join_excluding_indices == array_join(filter(!array_contains)) form") {
    import spark.implicits._
    val rows = Seq(
      (Seq("a", "b", "c", "d", "e"), Seq(1, 3)),
      (Seq("a", "b"), Seq[Int]()),
      (Seq("x"), Seq(0)),
      (Seq[String](), Seq[Int]()),
      (Seq("k", "l", "m"), Seq(0, 1, 2))
    ).toDF("us", "rm")
    for (delim <- Seq(" ", "\n"))
      assertSame(rows,
        array_join(filter(col("us"),
          (_, i) => !array_contains(col("rm"), i)), delim),
        TextGrams.join_excluding_indices(col("us"), col("rm"), delim))
  }

  test("sum_char_len == aggregate(toks, 0, acc + length(t))") {
    val toks = split(col("text"), " ")
    assertSame(texts,
      aggregate(toks, lit(0), (acc, t) => acc + length(t)),
      TextGrams.sum_char_len(toks))
  }

  test("fold_dot / fold_l2sq == aggregate(zip_with(...)) folds, float and double") {
    import spark.implicits._
    val vecs = Seq(
      (Seq(1.0f, 2.0f, -3.5f, 0.25f), Seq(0.5, -1.25, 2.0, 8.0)),
      (Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(1.0, 1.0, 1.0, 1.0)),
      (Seq(1e30f, -1e30f, 3.0f, 1.5f), Seq(1e-30, 1e30, -2.0, 0.1))
    ).toDF("a", "b")
      .unionByName(Seq((Option.empty[Seq[Float]], Some(Seq(1.0, 2.0, 3.0, 4.0))))
        .toDF("a", "b"))
    val (a, b) = (col("a"), col("b"))
    assertSame(vecs,
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_dot(a, b))
    assertSame(vecs,
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_l2sq(a, b))
    // length-mismatched arrays → NULL (zip_with pads with NULL, the fold
    // poisons) — the kernels must agree
    val mism = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assertSame(mism,
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_dot(a, b))
  }

  test("arg_min_l2 == head of ascending (d2, j) struct sort over a codebook") {
    import spark.implicits._
    import graft.functions.expressions.VectorCells
    // codebook with an exact-tie pair (entries 1 and 2 identical) so the
    // lowest-j tie-break is exercised, plus a NaN entry (sorts last)
    val cb = Seq(Seq(
      Seq(1.0, 0.0), Seq(0.5, 0.5), Seq(0.5, 0.5),
      Seq(Double.NaN, 0.0), Seq(0.0, 0.0)))
    val vecs = Seq(
      (Seq(0.5f, 0.5f), cb.head), (Seq(0.0f, 0.0f), cb.head),
      (Seq(1.0f, 0.0f), cb.head), (Seq(Float.NaN, 0.0f), cb.head)
    ).toDF("v", "cb")
    def l2(a: Column, b: Column) =
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    val oldCode = element_at(array_sort(transform(col("cb"),
      (cent, j) => struct(l2(col("v"), cent).as("d2"), j.as("j")))),
      1).getField("j")
    assertSame(vecs, oldCode, VectorCells.arg_min_l2(col("v"), col("cb")))
  }

  test("sorted_cells == array_sort over (-cosine, cell) structs") {
    import spark.implicits._
    import graft.functions.expressions.VectorCells
    import graft.functions.Similarity
    // centroid set with a duplicate direction (cells 2 and 3 — cosine
    // tie, cell asc breaks it); the NaN path rides a NaN vector element
    // (zero norms are OUTSIDE the domain: under ANSI — Spark 4's
    // default — the old form's divide raises on a 0 divisor, so the
    // operator contract excludes zero vectors/centroids; the fixtures
    // carry none)
    def cents(rows: Seq[(Int, Seq[Double])]) =
      rows.map { case (c, v) => (c, v, math.sqrt(v.map(x => x * x).sum)) }
    val cs = cents(Seq(
      1 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0), 3 -> Seq(0.0, 2.0),
      5 -> Seq(-1.0, 0.0)))
    val vecs = Seq(
      Seq(0.7f, 0.7f), Seq(1.0f, 0.0f), Seq(0.0f, -1.0f),
      Seq(Float.NaN, 1.0f))
    val df = vecs.map(v => (v, cs)).toDF("v", "__cents")
    val oldSorted = transform(array_sort(transform(col("__cents"), c =>
      struct((-(Similarity.dot(col("v"), c.getField("_2")) /
        (Similarity.norm(col("v")) * c.getField("_3")))).as("negs"),
        c.getField("_1").as("cell")))), x => x.getField("cell"))
    // rebuild the struct shape sorted_cells expects (cell, cvec, cnorm)
    val centsCol = transform(col("__cents"), c =>
      struct(c.getField("_1").as("cell"), c.getField("_2").as("cvec"),
        c.getField("_3").as("cnorm")))
    assertSame(df, oldSorted, VectorCells.sorted_cells(col("v"), centsCol))
  }

  test("top_k_char_grams == explode + groupBy + ranking window profile") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.expressions.TopKCharGrams
    val (n, k) = (3, 5)
    val df = texts.filter(col("text").isNotNull)
      .withColumn("id", monotonically_increasing_id())
    val grams = coalesce(TextGrams.char_ngrams(col("text"), n),
      array().cast("array<string>"))
    val old = df.select(col("id"), explode(grams).as("__g"))
      .groupBy("id", "__g").agg(count(lit(1)).as("__c"))
      .withColumn("__dr", row_number().over(
        Window.partitionBy("id").orderBy(col("__c").desc, col("__g"))))
      .filter(col("__dr") <= k)
      .select(col("id"), col("__g"), col("__dr"))
      .orderBy("id", "__dr").collect()
    val neu = df.select(col("id"),
        inline(TopKCharGrams.top_k_char_grams(col("text"), n, k)))
      .orderBy("id", "__dr").collect()
    assert(old.length == neu.length, s"${old.length} vs ${neu.length}")
    old.zip(neu).foreach { case (o, nn) =>
      assert(o.toSeq == nn.toSeq, s"$o vs $nn") }
  }

  test("normalize_url / url_host == the r17 pure-Column regex chains") {
    import spark.implicits._
    import graft.functions.expressions.UrlKernels
    // the r17 Column forms, verbatim — the reference the kernels must
    // match byte for byte
    val UrlRe =
      "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"
    def hostPortOf(authRaw: Column): Column =
      lower(regexp_replace(authRaw, "^[^@]*@", ""))
    def stripWww(host: Column): Column =
      when(host.rlike("^www\\..+\\."),
        regexp_replace(host, "^www\\.", "")).otherwise(host)
    def oldNormalize(url: Column): Column = {
      val u = trim(url)
      val scheme = lower(regexp_extract(u, UrlRe, 1))
      val authRaw = regexp_extract(u, UrlRe, 2)
      val userinfo = regexp_extract(authRaw, "^([^@]*@)", 1)
      val hostNoWww = stripWww(hostPortOf(authRaw))
      val auth = concat(userinfo,
        when(scheme === "http", regexp_replace(hostNoWww, ":80$", ""))
          .when(scheme === "https", regexp_replace(hostNoWww, ":443$", ""))
          .otherwise(hostNoWww))
      val path = regexp_replace(regexp_extract(u, UrlRe, 3), "/+$", "")
      val query = regexp_extract(u, UrlRe, 4)
      val queryPart = when(query === "", lit(""))
        .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
      when(u.isNull, lit(null).cast("string"))
        .when(scheme === "", u)
        .otherwise(concat(scheme, lit("://"), auth, path, queryPart))
    }
    def oldHost(url: Column): Column = {
      val u = trim(url)
      val host = regexp_replace(
        hostPortOf(regexp_extract(u, UrlRe, 2)), ":[0-9]*$", "")
      when(u.isNull, lit(null).cast("string")).otherwise(stripWww(host))
    }
    val urls = Seq(
      "https://Big.Example.COM:443/Page/",
      "http://example.com:80/a",
      "http://example.com:8080/a",
      "  https://www.example.com/x?b=2&a=1#frag  ",
      "https://www.com/keep-www-host",
      "https://www.pw@example.com/u",          // userinfo with www
      "user:PASS@CASE@https-nonsense",          // non-URL passthrough
      "ftp://Host:21/Dir//",
      "https://h/?",                            // empty query drops ?
      "https://h/?only=1",
      "https://a@b@c/path",                     // @ in host remainder
      "relative/path?x=1",
      "HTTPS://UPPER.host/P?z=9&y=8&y=7",
      "https://www.x./trailing-dot-host",
      "https://host:???",                       // port garbage
      "https://héT.Com/Ü?é=1&À=2",              // non-ASCII case fold
      "http://www.a/nodot",                     // www. but no later dot
      "",
      "   ") // whitespace-only → trimmed empty passthrough
      .toDF("u").unionByName(Seq(Option.empty[String]).toDF("u"))
    assertSame(urls, oldNormalize(col("u")), UrlKernels.normalize_url(col("u")))
    assertSame(urls, oldHost(col("u")), UrlKernels.url_host(col("u")))
  }

  test("minhash_bands == explode + groupBy with k min(xxhash64) aggregates") {
    import spark.implicits._
    import graft.functions.Dedup
    import graft.functions.expressions.MinHashBands
    val (bands, rpb) = (4, 3)
    val k = bands * rpb
    val df = texts.filter(col("text").isNotNull)
      .withColumn("id", monotonically_increasing_id())
    // old shape, verbatim from r17 signatures()
    val exploded = df.select(col("id"),
        explode(Dedup.shingleCol(col("text"), 3)).as("__s"))
      .withColumn("__h", xxhash64(col("__s")))
    val minCols = (0 until k).map(i =>
      min(xxhash64(col("__h"), lit(i))).as(s"__m$i"))
    val sigs = exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      xxhash64((0 until rpb).map(j => col(s"__m${b * rpb + j}")): _*)
        .as(s"__band_$b")
    }
    val oldBands = sigs.select(col("id"),
      array(bandCols: _*).as("o")).orderBy("id").collect()
    val newBands = df.select(col("id"),
      MinHashBands.minhash_bands(Dedup.shingleCol(col("text"), 3),
        bands, rpb).as("n")).orderBy("id").collect()
    assert(oldBands.length == newBands.length)
    oldBands.zip(newBands).foreach { case (o, nw) =>
      assert(o.get(1) == nw.get(1), s"id ${o.get(0)}: ${o.get(1)} vs ${nw.get(1)}")
    }
  }

  test("gram_bucket / bucket_weight_sum == md5-hex-conv chain and its fold") {
    import graft.functions.Dsir
    val nBuckets = 1024
    val g = col("g")
    val oldBucket =
      pmod(conv(substring(md5(g), 1, 4), 16, 10).cast("int"), lit(nBuckets))
    import spark.implicits._
    val grams = Seq("the", "a b", "中文 字", "", "één",
      "the quick brown").toDF("g")
      .unionByName(Seq(Option.empty[String]).toDF("g"))
    assertSame(grams, oldBucket, GramBuckets.gram_bucket(g, nBuckets))

    // the fold over a weights table: both forms on the same gram arrays
    val w = typedLit((0 until nBuckets).map(i => (i * 2654435761L) % 1000 - 500))
    val arrs = texts.select(
      Dsir.grams(col("text")).as("gs"))
    assertSame(arrs,
      aggregate(
        transform(col("gs"),
          x => element_at(w, Dsir.gramBucket(x, nBuckets) + 1)),
        lit(0L), (acc, v) => acc + v),
      GramBuckets.bucket_weight_sum(col("gs"), w, nBuckets))
  }

  test("lsh_postings == per-(table,bit) aggregate(zip_with) sign projections") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    // the r18 interpreted form, verbatim (Similarity.lshBucket reference)
    def planeComponent(bit: Int, dim: Column): Column =
      (xxhash64(lit(bit), dim).cast("double") / lit(Long.MaxValue.toDouble))
    def lshBucketOld(vec: Column, bits: Int, table: Int): Column = {
      val code = (0 until bits).map { b =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * planeComponent(table * bits + b, i)),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, shiftleft(lit(1L), b)).otherwise(0L)
      }
      code.reduce(_.bitwiseOR(_))
    }
    def oldPosts(vec: Column, bits: Int, tables: Int): Column =
      array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucketOld(vec, bits, t).as("b"))): _*)

    val fvecs = Seq(
      Seq(1.0f, -2.0f, 3.5f, 0.25f),
      Seq(0.0f, 0.0f, 0.0f, 0.0f),          // all-zero: proj 0, no bit
      Seq(-1.5f, -0.5f),
      Seq(Float.NaN, 1.0f),                  // NaN poisons every proj
      Seq(1e30f, -1e30f, 1e-30f),
      Seq.empty[Float]                       // empty: null-padded fold
    ).map(Option(_)).toDF("v")
      .unionByName(Seq(Option.empty[Seq[Float]]).toDF("v"))
    for ((bits, tables) <- Seq((4, 16), (1, 1), (8, 2)))
      assertSame(fvecs, oldPosts(col("v"), bits, tables),
        LshVec.lsh_postings(col("v"), bits, tables))
    // null ELEMENT poisons the fold to bucket 0 on every table
    val nullElem = Seq(Seq(Some(1.0), None, Some(2.0))).toDF("v")
    assertSame(nullElem, oldPosts(col("v"), 4, 3),
      LshVec.lsh_postings(col("v"), 4, 3))
    // double element type
    val dvecs = Seq(Seq(0.1, -0.9, 2.2), Seq(5.0, 5.0, 5.0)).toDF("v")
    assertSame(dvecs, oldPosts(col("v"), 6, 4),
      LshVec.lsh_postings(col("v"), 6, 4))
  }

  test("vec_residual == zip_with(v, c, x.cast(double) - c)") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    val rows = Seq(
      (Some(Seq(Option(1.0f), Option(2.5f), Option(-3.0f))),
        Some(Seq(Option(0.5), Option(0.5), Option(0.5)))),
      (Some(Seq(Option(1.0f), None, Option(2.0f))),     // null element
        Some(Seq(Option(1.0), Option(1.0), Option(1.0)))),
      (Some(Seq(Option(1.0f))),                          // shorter left
        Some(Seq(Option(1.0), Option(2.0)))),
      (Some(Seq(Option(1.0f), Option(2.0f))),            // shorter right
        Some(Seq(Option(3.0)))),
      (Some(Seq(Option(Float.NaN), Option(0.0f))),
        Some(Seq(Option(1.0), Option(Double.NaN)))),
      (None, Some(Seq(Option(1.0)))),                    // NULL left
      (Some(Seq(Option(1.0f))), None)                    // NULL right
    ).toDF("a", "b")
    assertSame(rows,
      zip_with(col("a"), col("b"), (x, c) => x.cast("double") - c),
      LshVec.vec_residual(col("a"), col("b")))
  }

  test("bigram_pairs == when(size >= 2, transform(element_at pairs)).otherwise(empty)") {
    import spark.implicits._
    val toks = Seq(
      Seq[String]("a", "b", "c", "d"),
      Seq[String]("one", "two"),
      Seq[String]("lonely"),
      Seq.empty[String],
      Seq[String]("x", null, "y"),          // null token elements
      Seq[String]("中文", "字", "één")
    ).map(Option(_)).toDF("tk")
      .unionByName(Seq(Option.empty[Seq[String]]).toDF("tk"))
    val tk = col("tk")
    assertSame(toks,
      when(size(tk) >= 2,
        transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("__w1"),
            element_at(tk, i + 1).as("__w2"))))
        .otherwise(array().cast("array<struct<__w1:string,__w2:string>>")),
      TextGrams.bigram_pairs(tk))
  }

  test("count_in == size(filter(toks, array_contains(set, t)))") {
    import spark.implicits._
    val stops = Seq("the", "a", "of", "and", "is")
    val stopsArr = array(stops.map(lit): _*)
    val toks = split(col("text"), " ")
    assertSame(texts,
      size(filter(toks, t => array_contains(stopsArr, t))),
      TextGrams.count_in(toks, stops))
    // null elements never match; empty-string tokens only if in the set
    val arrs = Seq(
      Seq[String]("the", null, "a", "", "THE"),
      Seq.empty[String]
    ).map(Option(_)).toDF("tk")
      .unionByName(Seq(Option.empty[Seq[String]]).toDF("tk"))
    assertSame(arrs,
      size(filter(col("tk"), t => array_contains(stopsArr, t))),
      TextGrams.count_in(col("tk"), stops))
  }

  test("c4_line_stats == filter(split, c4LineKeep) cleaned/kept/dropped") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    import graft.functions.expressions.C4Lines
    val docs = Seq(
      "good line with five words.\nshort.\nno terminal punct here at all",
      "please enable javascript to continue.\nJAVASCRIPT in caps five words.",
      "ends with a double quote here\"\nends with bang five words go!",
      "one two three four five.\r\nsix seven eight nine ten.",  // \r before $
      "",
      "\n\n",
      "tabs\tdo not split words here.",
      "één żółć 中文 字 multibyte five.",
      "exactly four words here.",
      "trailing newline line with five words.\n"
    ).toDF("text")
      .unionByName(Seq(Option.empty[String]).toDF("text"))
    val t = col("text")
    for (minWords <- Seq(1, 5)) {
      val keptOld = filter(split(t, "\n"),
        l => TextAnalysis.c4LineKeep(l, minWords))
      assertSame(docs, array_join(keptOld, "\n"),
        C4Lines.c4_line_stats(t, minWords).getField("kept"))
      assertSame(docs, size(keptOld),
        C4Lines.c4_line_stats(t, minWords).getField("n_kept"))
      assertSame(docs, size(split(t, "\n")) - size(keptOld),
        C4Lines.c4_line_stats(t, minWords).getField("n_total") -
          C4Lines.c4_line_stats(t, minWords).getField("n_kept"))
    }
  }

  test("opaque is a value-level identity (deterministic child, any consumer shape)") {
    import spark.implicits._
    import graft.functions.expressions.{MinHashBands, Opaque, TextGrams}
    // raw values pass through unchanged
    assertSame(texts,
      MinHashBands.minhash_bands(TextGrams.shingles(col("text"), 3), 16, 4),
      Opaque.opaque(
        MinHashBands.minhash_bands(TextGrams.shingles(col("text"), 3), 16, 4)))
    // and through the filter + explode pipeline shape the query paths
    // use (the optimizer treats the wrapped field as nondeterministic,
    // which must not change WHAT is computed)
    def pipeline(wrap: Column => Column) =
      texts.withColumn("__id", monotonically_increasing_id())
        .select(col("__id"),
          wrap(MinHashBands.minhash_bands(
            TextGrams.shingles(col("text"), 3), 16, 4)).as("__bands"))
        .select(col("__id"), posexplode(col("__bands")))
        .collect().map(_.toString).sorted.toSeq
    assert(pipeline(identity) == pipeline(Opaque.opaque))
  }

  test("any_nonzero == exists(vec, x =!= 0.0f)") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    val rows = Seq(
      Seq(Option(0.0f), Option(0.0f)),
      Seq(Option(0.0f), Option(1.5f)),
      Seq(Option(-0.0f)),                         // -0.0 counts as zero
      Seq(Option(Float.NaN)),                     // NaN =!= 0 is TRUE
      Seq(Option(0.0f), None),                    // nulls-only remainder
      Seq(None, Option(2.0f)),                    // true beats null
      Seq.empty[Option[Float]]
    ).map(Option(_)).toDF("v")
      .unionByName(Seq(Option.empty[Seq[Option[Float]]]).toDF("v"))
    assertSame(rows,
      exists(col("v"), x => x =!= lit(0.0f)),
      LshVec.any_nonzero(col("v")))
  }
}
