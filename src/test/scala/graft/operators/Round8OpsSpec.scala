package graft.operators

import graft.SparkSpec

/** Round-8 witnesses for the checkpoint-release discipline: fixpoint
  * loops must unpersist each superseded round's localCheckpoint blocks
  * (Iterate.release), or a long-lived JVM pins every dead round forever
  * — the block accumulation adjudicated behind round 7's
  * median-above-first bench pathology (g16 41.5 s vs 5-6 s isolated).
  * These tests pin the fix by COUNTING persistent RDDs across repeated
  * executions: per-run growth must stay bounded by the handful of
  * deliberately shared materializations, not grow with iteration count.
  */
class Round8OpsSpec extends SparkSpec {

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  test("CellSolver releases superseded per-iteration checkpoints") {
    // n=16 converges in ~130 iterations; pre-release every iteration
    // pinned one grid checkpoint, so growth tracked the iteration count
    val r1 = graft.laplace.CellSolver.solve(spark, 16)
    r1.grid.count()
    val afterFirst = pinned
    val r2 = graft.laplace.CellSolver.solve(spark, 16)
    r2.grid.count()
    val growth = pinned - afterFirst
    assert(r2.iterations > 50, s"fixture drift: expected a long solve, got ${r2.iterations}")
    // one pinned final grid per solve is fine; ~an RDD per iteration is
    // the regression this guards against
    assert(growth <= 3,
      s"CellSolver pinned $growth new RDDs for a ${r2.iterations}-iteration solve " +
        "- superseded loop checkpoints are not being released")
  }

  test("Iterate.release drops a local checkpoint once, then reports nothing left") {
    // persistence is read from getPersistentRDDs: the release leaves the
    // RDD's storage level set, so a storage-level test would claim a
    // second release too
    val ck = spark.range(1000).toDF("id").localCheckpoint()
    val id = ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.get
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    assert(Iterate.release(ck.select("id")), "first release found no checkpoint")
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    assert(!Iterate.release(ck), "second release claimed blocks already dropped")
  }

  test("session memo: a repeat persists nothing, d13 reuses d02's pairs, a new session builds its own") {
    def run(s: org.apache.spark.sql.SparkSession, q: String) =
      graft.SparkEntry.queries(q)(s, sf0001).collect().toSeq
    // RDDs newly persisted while `f` runs, with its result; compared by id,
    // since the ContextCleaner may drop earlier tests' garbage meanwhile
    def grows[T](f: => T): (Int, T) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = f
      ((spark.sparkContext.getPersistentRDDs.keySet -- before).size, r)
    }
    val s1 = spark.newSession()
    val (d02Cold, rows) = grows(run(s1, "d02_minhash_lsh"))
    assert(d02Cold > 0, "d02 built no memo entry")
    assert(grows(run(s1, "d02_minhash_lsh")) === (0, rows), "a repeat rebuilt its memo")
    val (d13Warm, d13Rows) = grows(run(s1, "d13_minhash_accuracy"))
    assert(d13Warm === 0, "d13 after d02 persisted its own memo entries")
    // d13 alone in a fresh session builds d02's pairs too: the difference
    // is exactly what d13 reused
    assert(grows(run(spark.newSession(), "d13_minhash_accuracy")) === (d13Warm + d02Cold, d13Rows))
    assert(grows(run(spark.newSession(), "d02_minhash_lsh")) === (d02Cold, rows),
      "a new session must start cold")
  }

  test("session memo: a rewritten table is rebuilt, matching a fresh session") {
    val d = java.nio.file.Files.createTempDirectory("graft-memo")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "documents.parquet"),
        d.resolve("documents.parquet"))
      def d02(s: org.apache.spark.sql.SparkSession) =
        graft.SparkEntry.queries("d02_minhash_lsh")(s, d.toString).collect().toSeq
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val s = spark.newSession()
      val idle = persisted
      val before = d02(s)
      val oldEntries = persisted -- idle
      assert(oldEntries.nonEmpty, "d02 built no memo entry")
      // the rewrite adds a column: the schema memo must not serve the old one
      graft.Tables.documents(spark, sf0001).orderBy("doc_id").limit(100)
        .withColumn("extra", org.apache.spark.sql.functions.lit(1))
        .write.mode("overwrite").parquet(d.resolve("documents.parquet").toString)
      val after = d02(s)
      assert(graft.Tables.documents(s, d.toString).columns.last === "extra")
      assert((oldEntries & persisted).isEmpty, "the entries over the old files were kept")
      assert(after === d02(spark.newSession()))
      assert(after !== before, "fixture drift: the rewrite did not change d02")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile)
  }

  test("d19: leakage card equals a scalar replay from the d02 pairs; shard dim leaks hardest") {
    // ground pairs: the oracle-pinned d02 surface, thresholded like d19
    val pairs = graft.SparkEntry.queries("d02_minhash_lsh")(spark, sf0001)
      .filter("est_jaccard >= 0.5").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def md5hex(s2: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s2.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val meta = graft.Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "lang", "source").collect()
      .map { r =>
        val id = r.getLong(0)
        val shard = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 16
        id -> (r.getString(1), r.getString(2), f"$shard%02d")
      }.toMap
    def card(key: ((String, String, String)) => String): Map[(String, String), Long] =
      pairs.toSeq.map { case (a, b) =>
        val (ka, kb) = (key(meta(a)), key(meta(b)))
        (if (ka <= kb) (ka, kb) else (kb, ka)) -> 1L
      }.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val dims = Map("lang" -> card(_._1), "source" -> card(_._2), "shard16" -> card(_._3))
    val want = dims.toSeq.flatMap { case (dim, cells) =>
      val tot = cells.values.sum
      cells.toSeq.map { case ((ka, kb), n) =>
        (dim, ka, kb, n, ka != kb, 1000000L * n / tot)
      }
    }.sortBy(t => (t._1, t._2, t._3))
    val got = graft.SparkEntry.queries("d19_cross_partition_leakage")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5))).toSeq
    assert(got == want, s"leakage card mismatch: got ${got.take(4)} want ${want.take(4)}")
    // the design point the card exists to show: random 16-way hash shards
    // put most duplicate pairs ACROSS shards (shard-local dedup is lossy),
    // strictly more than language partitioning does
    def crossShare(dim: String) = {
      val rows = got.filter(_._1 == dim)
      rows.filter(_._5).map(_._6).sum
    }
    assert(crossShare("shard16") > crossShare("lang"),
      s"expected hash shards to leak more than lang partitions: " +
        s"shard ${crossShare("shard16")} ppm vs lang ${crossShare("lang")} ppm")
  }

  test("c10's per-cut label loops release superseded checkpoints") {
    // c10 runs min-label propagation loops for the 0.75/0.875 cuts on
    // every call (the 0.5 cut reads the session memo). Growth per call
    // must be the bounded per-cut materializations (edge lists + final
    // labels), never the per-round checkpoints.
    val run = graft.SparkEntry.queries("c10_linkage_curve")
    run(spark, sf0001).count() // warms the shared pair/label memos
    val afterFirst = pinned
    run(spark, sf0001).count()
    val growth = pinned - afterFirst
    assert(growth <= 6,
      s"c10 pinned $growth new RDDs on a repeat run - loop rounds are leaking checkpoints")
  }

  test("g15's incremental peel keeps a bounded checkpoint ring") {
    // r10: the truss loop materializes ONE frame per round (withSup) and
    // releases with a three-round delay (sup's lineage reaches two
    // rounds back, the final projection reads the last live AND sup).
    // Growth per call must be the bounded ring + sup0, never one frame
    // per round compounding beyond it.
    val run = graft.SparkEntry.queries("g15_ktruss")
    run(spark, sf0001).count() // warms the shared simhash-pair memo
    val afterFirst = pinned
    run(spark, sf0001).count()
    val growth = pinned - afterFirst
    assert(growth <= 6,
      s"g15 pinned $growth new RDDs on a repeat run - the withSup ring is leaking")
  }
}
