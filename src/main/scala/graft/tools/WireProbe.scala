package graft.tools

import org.apache.spark.sql.functions._

/** Throughput probe for the round-10 wire connectors (BASELINE.md r10
  * table): loopback mongo OP_MSG and CQL v4 servers loaded with N
  * synthetic rows, then timed through the REAL client paths —
  * `Mongo.read` (_id-range partitioned, sampled schema, one scan),
  * `Mongo.insert`, `Cql.read` (token-range partitioned, typed from
  * protocol metadata), `Cql.insert`. The loopback servers are
  * in-process, so the numbers measure the client/codec/Spark-side cost,
  * not network or a real engine — the scaling SHAPE (rows/sec holding
  * as N grows, partition counts) is the evidence, not absolute wire
  * speed. Median-of-3 warm runs; one JSON line.
  *
  * Usage: runMain graft.tools.WireProbe [rows] [splits]
  */
object WireProbe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val splits = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.get("ERROR")
    import graft.sources._

    def med3(f: => Long): (Double, Long) = {
      var rows = f // warm
      val xs = Seq.fill(3) {
        val t0 = System.nanoTime(); rows = f
        (System.nanoTime() - t0) / 1e9
      }
      (xs.sorted.apply(1), rows)
    }
    val out = collection.mutable.LinkedHashMap[String, Double]()

    // the shared write-side frame (cached once, reused by every sink)
    val df = spark.range(n.toLong).select(
      col("id").as("k"), concat(lit("w-"), col("id")).as("name"),
      (col("id") % 997 / 7.0).as("score"))
      .repartition(splits)
    df.cache().count()

    // Each engine section runs in its own scope so its 16M-row loopback
    // fixture is GC-able before the next engine builds (at the 16M probe
    // step, holding all five fixtures at once OOMs any sane heap); the
    // fixture rows stream straight into the loopback store via a lazy
    // tabulate view, never materializing a second driver-side copy.
    def fixture(n: Int): IndexedSeq[Seq[Any]] = new IndexedSeq[Seq[Any]] {
      def length: Int = n
      def apply(i: Int): Seq[Any] =
        Seq(i.toLong, s"doc-$i", (i % 1000) / 7.0)
    }

    // ---- mongo ------------------------------------------------------------
    locally {
      val mongo = new LoopbackMongo
      mongo.put("probe", "c", new IndexedSeq[Bson.BDoc] {
        def length: Int = n
        def apply(i: Int): Bson.BDoc = Bson.BDoc(
          "_id" -> Bson.ObjectId.fromBigInt(BigInt(i) + 0x100000),
          "k" -> i.toLong,
          "name" -> s"doc-$i",
          "score" -> (i % 1000) / 7.0,
          "flag" -> (i % 3 == 0))
      })
      val mConn = Mongo.Conn("127.0.0.1", mongo.port, "probe")
      val (mRead, mRows) = med3 {
        Mongo.read(spark, mConn, "c", splits = splits, batchSize = 5000).count()
      }
      require(mRows == n, s"mongo read $mRows != $n")
      out("mongo_read_sec") = mRead
      out("mongo_read_rows_per_sec") = n / mRead
      val (mIns, _) = med3 {
        // drop-then-load like the SQL probes' TRUNCATE — the sink would
        // otherwise accumulate 4x the rows across the warm+timed runs
        Mongo.drop(mConn, "sink")
        Mongo.insert(df, mConn, "sink", idCol = Some("k"))
      }
      out("mongo_insert_sec") = mIns
      out("mongo_insert_rows_per_sec") = n / mIns
      mongo.clear(); mongo.close()
    }

    // ---- cql --------------------------------------------------------------
    locally {
      val cql = new LoopbackCql
      cql.define("ks", "c", Seq("k" -> Cql.TBigint, "name" -> Cql.TVarchar,
        "score" -> Cql.TDouble), pk = Seq("k"))
      cql.load("ks", "c", fixture(n))
      cql.define("ks", "sink", Seq("k" -> Cql.TBigint,
        "name" -> Cql.TVarchar, "score" -> Cql.TDouble), pk = Seq("k"))
      val cConn = Cql.Conn("127.0.0.1", cql.port, "ks")
      val (cRead, cRows) = med3 {
        Cql.read(spark, cConn, "c", partitionKey = Seq("k"),
          splits = splits, pageSize = 5000).count()
      }
      require(cRows == n, s"cql read $cRows != $n")
      out("cql_read_sec") = cRead
      out("cql_read_rows_per_sec") = n / cRead
      val (cIns, _) = med3 { Cql.insert(df, cConn, "sink") }
      out("cql_insert_sec") = cIns
      out("cql_insert_rows_per_sec") = n / cIns
      cql.clear(); cql.close()
    }

    // ---- postgres (wire protocol v3: SCRAM + COPY + ranged reads) ---------
    locally {
      val pg = new LoopbackPg() // scram-sha-256
      pg.define("c", Seq("k" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar,
        "score" -> Pg.Oid.Float8))
      pg.load("c", fixture(n))
      pg.define("sink", Seq("k" -> Pg.Oid.Int8, "name" -> Pg.Oid.Varchar,
        "score" -> Pg.Oid.Float8))
      val pConn = Pg.Conn("127.0.0.1", pg.port, "probe", "graft", "pw")
      val (pRead, pRows) = med3 {
        Pg.read(spark, pConn, "c", partitionColumn = Some("k"),
          splits = splits).count()
      }
      require(pRows == n, s"pg read $pRows != $n")
      out("pg_read_sec") = pRead
      out("pg_read_rows_per_sec") = n / pRead
      val (pIns, _) = med3 {
        Pg.execute(pConn, "TRUNCATE TABLE sink")
        Pg.insert(df, pConn, "sink")
      }
      out("pg_copy_sec") = pIns
      out("pg_copy_rows_per_sec") = n / pIns
      pg.clear(); pg.close()
    }

    // ---- mysql (client protocol: caching_sha2 + LOAD DATA LOCAL) ----------
    locally {
      val my = new LoopbackMysql()
      my.define("c", Seq("k" -> Mysql.T.LongLong, "name" -> Mysql.T.VarString,
        "score" -> Mysql.T.Double))
      my.load("c", fixture(n))
      my.define("sink", Seq("k" -> Mysql.T.LongLong,
        "name" -> Mysql.T.VarString, "score" -> Mysql.T.Double))
      val yConn = Mysql.Conn("127.0.0.1", my.port, "probe", "graft", "pw")
      val (yRead, yRows) = med3 {
        Mysql.read(spark, yConn, "c", partitionColumn = Some("k"),
          splits = splits).count()
      }
      require(yRows == n, s"mysql read $yRows != $n")
      out("mysql_read_sec") = yRead
      out("mysql_read_rows_per_sec") = n / yRead
      val (yIns, _) = med3 {
        Mysql.execute(yConn, "TRUNCATE TABLE sink")
        Mysql.insert(df, yConn, "sink")
      }
      out("mysql_load_sec") = yIns
      out("mysql_load_rows_per_sec") = n / yIns
      my.clear(); my.close()
    }

    // ---- sql server (TDS: LOGIN7 + INSERT BULK/BulkLoadBCP) ----------------
    locally {
      val ms = new LoopbackTds()
      ms.define("c", Seq(Tds.ColMeta("k", Tds.T.IntN, 8),
        Tds.ColMeta("name", Tds.T.NVarChar, 400),
        Tds.ColMeta("score", Tds.T.FltN, 8)))
      ms.load("c", fixture(n))
      ms.define("sink", Seq(Tds.ColMeta("k", Tds.T.IntN, 8),
        Tds.ColMeta("name", Tds.T.NVarChar, 400),
        Tds.ColMeta("score", Tds.T.FltN, 8)))
      val tConn = Tds.Conn("127.0.0.1", ms.port, "probe", "graft", "pw")
      val (tRead, tRows) = med3 {
        Tds.read(spark, tConn, "c", partitionColumn = Some("k"),
          splits = splits).count()
      }
      require(tRows == n, s"tds read $tRows != $n")
      out("mssql_read_sec") = tRead
      out("mssql_read_rows_per_sec") = n / tRead
      val (tIns, _) = med3 {
        Tds.execute(tConn, "TRUNCATE TABLE sink")
        Tds.insert(df, tConn, "sink")
      }
      out("mssql_bulk_sec") = tIns
      out("mssql_bulk_rows_per_sec") = n / tIns
      ms.clear(); ms.close()
    }

    // ---- clickhouse (REST tier: HTTP + JSONEachRow + Spill.typed) ----------
    // Exercises the round-12 REST scale path end-to-end: distributed
    // INSERT chunks in, then (a) the driver-staged streaming read and
    // (b) the executor-partitioned WHERE-bounded cursors, typing through
    // Spill.typed (the persist proves each cursor ran exactly once —
    // asserted via the loopback's statement counter).
    locally {
      val ch = new LoopbackClickHouse()
      ch.define("c", Seq("k" -> ch.Num, "name" -> ch.Txt, "score" -> ch.Num))
      ch.load("c", fixture(n))
      ch.define("sink", Seq("k" -> ch.Num, "name" -> ch.Txt,
        "score" -> ch.Num))
      val cConn = ch.conn
      val (cPart, cRows) = med3 {
        ClickHouseHttp.readPartitioned(spark, cConn,
          "SELECT * FROM c WHERE {chunk}", "k", 0L, (n - 1).toLong,
          chunks = splits).count()
      }
      require(cRows == n, s"clickhouse partitioned read $cRows != $n")
      out("clickhouse_part_read_sec") = cPart
      out("clickhouse_part_read_rows_per_sec") = n / cPart
      val before = ch.statements.get()
      val frame = ClickHouseHttp.readPartitioned(spark, cConn,
        "SELECT * FROM c WHERE {chunk}", "k", 0L, (n - 1).toLong,
        chunks = splits)
      require(frame.count() == n && frame.count() == n)
      require(ch.statements.get() - before == splits,
        s"expected exactly $splits cursors, saw ${ch.statements.get() - before}")
      val (cRead, cRows2) = med3 {
        ClickHouseHttp.read(spark, cConn, "SELECT * FROM c").count()
      }
      require(cRows2 == n, s"clickhouse staged read $cRows2 != $n")
      out("clickhouse_read_sec") = cRead
      out("clickhouse_read_rows_per_sec") = n / cRead
      val (cIns, _) = med3 {
        ClickHouseHttp.execute(cConn, "TRUNCATE TABLE sink")
        ClickHouseHttp.insert(df, cConn, "sink")
      }
      require(ch.rowCount("sink") == n, s"sink ${ch.rowCount("sink")} != $n")
      out("clickhouse_insert_sec") = cIns
      out("clickhouse_insert_rows_per_sec") = n / cIns
      ch.clear(); ch.close()
    }

    println(out.map { case (k, v) => s""""$k":${math.round(v * 1000) / 1000.0}""" }
      .mkString(s"""{"rows":$n,"splits":$splits,""", ",", "}"))
    spark.stop()
  }
}
