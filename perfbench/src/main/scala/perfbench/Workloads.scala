package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.laplace.BlockSolver
import graft.sources.Formats

/** One call into the library inside a pass and its wall seconds (timed
  * region only).
  */
final case class OpSample(name: String, seconds: Double)

/** A workload: the tables it prepares at set-up and how it runs one pass.
  * A pass runs every operation once, in the order the seed gives it.
  */
sealed trait Workload {
  def name: String
  def tables: Seq[String]
  def ops: Seq[String]
  def runPass(b: Bench, order: Seq[String]): Unit
  /** A pass's operation order, given the seed's permutation of `ops`. */
  def order(shuffled: Seq[String]): Seq[String] = shuffled
  /** The first call a new session makes, timed as part of set-up. */
  def probe(b: Bench): Unit = runPass(b, ops.take(1))
}

object Workload {
  def apply(name: String): Workload = name match {
    case "solver" => Solver
    case "curation" => Curation
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (solver, curation)")
  }
}

/** `BlockSolver.solve` to epsilon on the reference's grid, then the
  * converged grid written through the `GridSinkProvider` connector. The
  * input is fully determined by N, so the seed changes nothing here.
  */
object Solver extends Workload {
  val n = 64
  val blocks = 4
  /** Iterations the reference's sequential loop needs at n = 64. */
  val referenceIterations = 1045
  lazy val reference: ScalarSor.Result = ScalarSor.solve(n)

  val name = "solver"
  val tables = Nil
  val ops = Seq("solve", "write")

  /** Set-up probe: a 16 x 16 solve, checked against its own reference. */
  override def probe(b: Bench): Unit = solve(b, "probe", 16, ScalarSor.solve(16))

  /** Solves an m x m grid; the result must equal `ref` bit for bit. */
  private def solve(b: Bench, op: String, m: Int, ref: ScalarSor.Result) =
    b.call(op, "solve", "laplace")(BlockSolver.solve(b.spark, m, numBlocks = blocks)) { r =>
      val cells = r.grid.collect().map(c => (c.getInt(0), c.getInt(1), c.getDouble(2)))
      // --corrupt: the smallest possible error, one ulp in one interior cell
      if (b.corrupt) cells(m + 1) = cells(m + 1).copy(_3 = Math.nextUp(cells(m + 1)._3))
      r.iterations == ref.iterations &&
        java.lang.Double.compare(r.finalDiff, ref.finalDiff) == 0 &&
        cells.length == m * m && cells.forall { case (i, j, v) =>
          java.lang.Double.compare(v, ref.grid(i)(j)) == 0 }
    }

  def runPass(b: Bench, order: Seq[String]): Unit = {
    val out = new File(b.workDir, s"sink/pass-${b.passNo}")
    require(reference.iterations == referenceIterations,
      s"scalar reference took ${reference.iterations} iterations, expected $referenceIterations")
    val res = solve(b, "solve", n, reference)
    b.laplaceIterations = res.map(_.iterations).getOrElse(0)
    res.foreach { r =>
      b.query("write", "write", "sources") {
        r.grid.select(col("i").cast("long"), col("j").cast("long"), col("v"))
      } { df =>
        df.write.format("graft.sources.GridSinkProvider").mode("append")
          .option("path", out.getPath).save()
      } { _ => sinkMatches(out) }
    }
    b.recordWritten(out)
    Bench.deleteTree(out)
  }

  /** The `_SUCCESS` manifest lists n² rows, and every published line is
    * `i,j,v` with v the scalar reference formatted `%.10f`.
    */
  private def sinkMatches(dir: File): Boolean = {
    val manifest = new File(dir, "_SUCCESS")
    manifest.exists() && {
      val src = scala.io.Source.fromFile(manifest)
      val total = try src.getLines().next() finally src.close()
      val lines = dir.listFiles().filter(_.getName.startsWith("part-")).toSeq.flatMap { f =>
        val s = scala.io.Source.fromFile(f)
        try s.getLines().toVector finally s.close()
      }
      total == s"total,${n * n}" && lines.size == n * n && lines.forall { l =>
        val Array(i, j, v) = l.split(',')
        v == "%.10f".formatLocal(java.util.Locale.ROOT, reference.grid(i.toInt)(j.toInt))
      }
    }
  }
}

/** LLM-data curation queries, each pass in a fresh `newSession()` so the
  * session memo (`Dedup.shared`) starts cold, then the shard assignment
  * joined to the documents, written Hive-partitioned and read back.
  */
object Curation extends Workload {
  val name = "curation"
  val tables = Seq("documents", "embeddings")
  val queries = Seq("s01_cosine_topk", "d02_minhash_lsh", "d13_minhash_accuracy")
  val shardOp = "shard_roundtrip"
  val ops: Seq[String] = queries :+ shardOp

  /** The shard assignment joined back to the corpus, as written. */
  def shardFrame(s: SparkSession, dir: String): DataFrame =
    SparkEntry.queries("p05_shuffle_shard")(s, dir).select("doc_id", "shard")
      .join(Tables.documents(s, dir), "doc_id")

  /** The memo consumer always follows its producer, as in a pipeline;
    * the seed permutes everything else.
    */
  override def order(shuffled: Seq[String]): Seq[String] =
    shuffled.filterNot(_ == "d13_minhash_accuracy")
      .flatMap(op => if (op == "d02_minhash_lsh") Seq(op, "d13_minhash_accuracy") else Seq(op))

  def runPass(b: Bench, order: Seq[String]): Unit = {
    // created outside the timed region; dropped (and collected) after it
    val session = b.spark.newSession()
    order.foreach {
      case `shardOp` => shardRoundtrip(b, session)
      case q => runQuery(b, session, q)
    }
  }

  /** `SparkEntry.queries(q)` called and fully collected; its rows must
    * hash to the recorded value.
    */
  private def runQuery(b: Bench, session: SparkSession, q: String): Unit = {
    val fn = SparkEntry.queries(q)
    b.query(q, "exec", "runtime")(fn(session, b.dataDir))(_.collect().toSeq)(b.matches(q, _))
  }

  private def shardRoundtrip(b: Bench, s: SparkSession): Unit = {
    val out = new File(b.workDir, s"shards/pass-${b.passNo}")
    b.query(shardOp, "write", "sources")(shardFrame(s, b.dataDir)) { df =>
      Formats.writePartitioned(df, out.getPath, "shard")
      b.tracer.span("read", "sources")(Formats.readParquet(s, out.getPath).collect().toSeq)
    }(b.matches(shardOp, _))
    b.recordWritten(out)
    Bench.deleteTree(out)
  }
}
