package graft

import org.apache.spark.sql.functions._

import graft.sources.SideData

/** DistributedCache surface (filecache/DistributedCache.java): file
  * localization to tasks and broadcast lookup side data. */
class SideDataSpec extends SparkSpec {

  test("addCacheFile localizes a side file into task closures") {
    import spark.implicits._
    val f = java.io.File.createTempFile("stopwords", ".txt")
    java.nio.file.Files.writeString(f.toPath, "the\nand\nof")
    val name = SideData.addCacheFile(spark, f.getAbsolutePath)
    // consume the cached file INSIDE tasks, like a mapper reading the
    // localized cache path from its work dir
    val kept = Seq("the", "spark", "and", "engine").toDF("w")
      .mapPartitions { it =>
        val stop = scala.io.Source.fromFile(SideData.localPath(name))
          .getLines().toSet
        it.map(_.getString(0)).filter(w => !stop.contains(w))
      }(org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(kept === Set("spark", "engine"))
    // NOT deleted eagerly: the session re-validates registered files on
    // later tasks; JVM exit cleans the temp file
    f.deleteOnExit()
    // a DIRECTORY of side files (addCacheDir): localized recursively,
    // its files readable under the returned name inside tasks
    val d = java.nio.file.Files.createTempDirectory("sidedir")
    java.nio.file.Files.writeString(d.resolve("a.txt"), "spark")
    java.nio.file.Files.writeString(d.resolve("b.txt"), "engine")
    val dirName = SideData.addCacheDir(spark, d.toString)
    val read = Seq("a.txt", "b.txt").toDF("f")
      .mapPartitions(_.map { r =>
        val src = scala.io.Source.fromFile(
          new java.io.File(SideData.localPath(dirName), r.getString(0)))
        try src.mkString.trim finally src.close()
      })(org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(read === Set("spark", "engine"))
    // deleteOnExit runs in reverse registration order: files, then dir
    d.toFile.deleteOnExit()
    d.toFile.listFiles().foreach(_.deleteOnExit())
  }

  test("broadcastLookup distributes a small table for per-row access") {
    import spark.implicits._
    val side = Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_name")
    val lookup = SideData.broadcastLookup(side, "n_nationkey", "n_name")
    assert(lookup.value.size === 25)
    // per-row imperative access inside a task closure (the kernel-side use)
    val named = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_nationkey")
      .mapPartitions { it =>
        it.map(r => (r.getLong(0), lookup.value(r.get(1).toString)))
      }(org.apache.spark.sql.Encoders.product[(Long, String)])
      .toDF("c_custkey", "nation")
    val viaJoin = Tables.customer(spark, sfDir)
      .join(broadcast(side), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("nation"))
    assert(named.collect().map(_.toSeq).toSet ===
      viaJoin.collect().map(_.toSeq).toSet)
  }

  test("broadcastLookup refuses oversized side data") {
    import spark.implicits._
    val big = spark.range(100).select($"id".cast("string").as("k"),
      $"id".cast("string").as("v"))
    val e = intercept[IllegalArgumentException] {
      SideData.broadcastLookup(big, "k", "v", maxEntries = 10)
    }
    assert(e.getMessage.contains("broadcast join"))
  }

  test("broadcastLookup rejects nulls, dedups identical rows, refuses conflicts") {
    import spark.implicits._
    // a null key cannot index a lookup map — loud failure, not a null entry
    val nullKey = Seq((null.asInstanceOf[String], "v"), ("k", "v"))
      .toDF("k", "v")
    val en = intercept[IllegalArgumentException] {
      SideData.broadcastLookup(nullKey, "k", "v")
    }
    assert(en.getMessage.contains("null"))
    // rows duplicated IN FULL are deterministic — collapsed, not rejected
    val dupRows = Seq(("k1", "v1"), ("k1", "v1"), ("k2", "v2")).toDF("k", "v")
    assert(SideData.broadcastLookup(dupRows, "k", "v").value ===
      Map("k1" -> "v1", "k2" -> "v2"))
    // conflicting values for one key stay a loud failure
    val conflict = Seq(("k1", "v1"), ("k1", "v2")).toDF("k", "v")
    val ec = intercept[IllegalArgumentException] {
      SideData.broadcastLookup(conflict, "k", "v")
    }
    assert(ec.getMessage.contains("conflicting"))
  }
}
