package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.io.Source

import org.apache.spark.sql.Row

/** Plain sequential red-black SOR, the loop of the reference's
  * `laplace-seq.c`: sweep the red cells, then the black ones, each update
  * `(1 - omega) * v + omega * (up + down + left + right) / 4`, and stop
  * after the first iteration whose largest change is at most epsilon(n).
  * The arithmetic order is the C expression's, so a correct distributed
  * solver reproduces this grid bit for bit.
  *
  * The problem constants are the reference's (`laplace-common-impl.h`),
  * written out here rather than taken from the library, so a change to the
  * library's constants fails the check instead of moving the reference
  * with it: row 0 holds 4.56 and row n-1 9.85, then column 0 holds 7.32 and
  * column n-1 6.88 (rows win at the corners), the interior starts at 0;
  * omega(n) = 1.6 / (1 + sqrt(1 - cos²(π/n))), epsilon(n) = 2e-6 / (2 - 1.25 omega(n)).
  */
object ScalarSor {
  final case class Result(grid: Array[Array[Double]], iterations: Int, finalDiff: Double)

  def omega(n: Int): Double = {
    val p = math.cos(math.Pi / n)
    1.6 / (1.0 + math.sqrt(1.0 - p * p))
  }

  def epsilon(n: Int): Double = 0.000002 / (2.0 - 1.25 * omega(n))

  def initialValue(i: Int, j: Int, n: Int): Double =
    if (i == 0) 4.56 else if (i == n - 1) 9.85
    else if (j == 0) 7.32 else if (j == n - 1) 6.88
    else 0.0

  def solve(n: Int): Result = {
    val omega = this.omega(n)
    val eps = epsilon(n)
    val g = Array.tabulate(n, n)((i, j) => initialValue(i, j, n))
    var iterations = 0
    var diff = Double.MaxValue
    while (diff > eps) {
      diff = 0.0
      for (color <- 0 to 1; i <- 1 until n - 1) {
        val up = g(i - 1); val row = g(i); val down = g(i + 1)
        var j = if (i % 2 == color) 2 else 1
        while (j < n - 1) {
          val tmp = (up(j) + down(j) + row(j - 1) + row(j + 1)) / 4.0
          val old = row(j)
          row(j) = (1.0 - omega) * old + omega * tmp
          diff = math.max(diff, math.abs(old - row(j)))
          j += 2
        }
      }
      iterations += 1
    }
    Result(g, iterations, diff)
  }
}

/** Content hashes of collected results. A row renders each value by type
  * (doubles through `Double.toString`, which round-trips every bit;
  * strings length-prefixed, so no separator is ambiguous), and the hash
  * covers the rows in the order the query delivered them. Queries whose
  * row order is not defined are hashed in `sorted` mode instead.
  */
object ResultHash {
  def render(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + java.lang.Double.toString(d)
    case f: Float => "f" + java.lang.Float.toString(f)
    case s: String => s"s${s.length}:$s"
    case b: java.math.BigDecimal => "m" + b.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.getClass.getSimpleName + ":" + x.toString
  }

  def of(rows: Seq[Row], sorted: Boolean): String = {
    val lines = rows.map(render)
    val md = MessageDigest.getInstance("SHA-256")
    (if (sorted) lines.sorted else lines).foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** `expected.tsv`: one line per checked operation,
  * `workload <TAB> op <TAB> mode <TAB> rows <TAB> sha256`, recorded by
  * `record.py` only after every hashed result matched DuckDB.
  */
final case class Expected(mode: String, rows: Long, hash: String)

object Expected {
  def load(path: String, workload: String): Map[String, Expected] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).collect {
        case Array(`workload`, op, mode, rows, hash) => op -> Expected(mode, rows.toLong, hash)
      }.toMap
    finally src.close()
  }
}
