package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Spill

/** Cluster-safety of the REST spill stage: root resolution (explicit >
  * session conf > local-only temp), the non-local refusal, Hadoop-FS
  * part writing under a shared root, and eager purge. */
class SpillSpec extends AnyFunSuite with SparkSuite {

  test("resolveRoot: explicit dir wins, then conf, then local temp") {
    assert(Spill.resolveRoot("local[4]", Some("/conf/root"),
      Some("/explicit"), "t") == "/explicit")
    assert(Spill.resolveRoot("spark://m:7077", Some("/conf/root"),
      None, "t") == "/conf/root")
    val tmp = Spill.resolveRoot("local[4]", None, None, "t")
    assert(tmp.startsWith("file:"), tmp)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(new java.net.URI(tmp)))
  }

  test("resolveRoot REFUSES driver temp on a non-local master") {
    for (master <- Seq("spark://m:7077", "yarn", "k8s://https://api:443")) {
      val e = intercept[IllegalStateException] {
        Spill.resolveRoot(master, None, None, "t")
      }
      assert(e.getMessage.contains(Spill.DirKey), master)
      assert(e.getMessage.contains(master))
    }
    // empty conf value does not count as a configured root
    intercept[IllegalStateException] {
      Spill.resolveRoot("yarn", Some(""), None, "t")
    }
  }

  test("shared staging root end-to-end: conf-routed parts, read-back, purge") {
    val root = java.nio.file.Files.createTempDirectory("spill-shared")
    try {
      spark.conf.set(Spill.DirKey, root.toString)
      // tiny partBytes forces rotation: bounded residency shows as parts
      val df = Spill.stage(spark, "smoke", None,
        Spill.Config(partBytes = 64)) { emit =>
        (1 to 50).foreach(i => emit(s"""{"id":$i,"s":"row-$i"}"""))
      }
      assert(df.count() == 50)
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        == 25 * 51)
      // every staged part landed under the conf root, none in java.io.tmpdir
      val staged = java.nio.file.Files.list(root).iterator()
      assert(staged.hasNext, "staging dir created under the conf root")
    } finally spark.conf.unset(Spill.DirKey)
  }

  test("purge eagerly deletes the staged dir; close is idempotent") {
    val root = java.nio.file.Files.createTempDirectory("spill-purge")
    val w = new Spill.JsonlWriter(spark, "purgeme",
      Spill.Config(dir = Some(root.toString)))
    (1 to 5).foreach(i => w.write(s"""{"id":$i}"""))
    val files = w.close()
    assert(files.nonEmpty && files.forall(_.contains("purgeme-")))
    val frame = Spill.readJsonl(spark, None, files)
    assert(frame.count() == 5)
    w.purge()
    val dirPath = java.nio.file.Paths.get(new java.net.URI(w.dir.toString))
    assert(!java.nio.file.Files.exists(dirPath), "purge removes the dir")
    assert(w.close() == files, "close after purge returns the same manifest")
  }
}
