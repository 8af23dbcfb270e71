package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deduplication operators (north star §2.3) over the `documents` /
  * `embeddings` tables: exact, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup. All five are oracle-verified against DuckDB
  * running the same algorithm (see [[Ns]] for the cross-engine recipes).
  *
  * Scale design (100 TB): every pipeline is a pure shuffle-parallel
  * DataFrame plan —
  *  - exact dedup groups by a 256-bit hash, never shuffling full texts;
  *  - MinHash signatures are one explode + one groupBy (map-side partial
  *    `min` combine), and LSH banding turns the quadratic all-pairs
  *    problem into an equi-join on (band, signature) — the join fan-out
  *    is bounded by bucket size, not corpus size;
  *  - SimHash is one explode + one groupBy with 32 partial-aggregated
  *    bit counters, then pairing on the compact 32-bit fingerprint;
  *  - n-gram Jaccard only scores LSH-candidate-sized blocks (here:
  *    same-lang blocking) — the shingle join shuffles on the shingle
  *    string, the natural high-cardinality key;
  *  - cosine near-dup at scale goes through [[Similarity]]'s IVF/LSH
  *    blocking; the exact all-pairs variant here is the correctness
  *    oracle for it (embeddings is a fixed-size 500-row table).
  */
object Dedup {

  private val K = 16 // minhash signature length
  private val R = 4  // LSH rows per band -> 4 bands

  /** Session memo of shared intermediate builds (the minhash / simhash
    * pair tables, the kNN edge lists): seven g-family queries and several
    * d/s queries start from the same pair table, and a bench or verify
    * run executes them back-to-back in ONE SparkSession, so each is built
    * once (~2 s each, the bulk of the g-family subtotal) as a
    * localCheckpoint — at 100 TB, the edge table materialized once per run.
    *
    * Keys: `d`; [[Tables.fingerprint]] of `d` (path, length and mtime
    * of every file under it), so a rewritten table is rebuilt (entries
    * over the old files are dropped with their checkpoints at the next
    * call for `d`; a frame taken from one fails if run again); the
    * shuffle-partition setting, so the bench's partitioning-invariance
    * witness rebuilds; and `kind`. Values are (schema, row RDD), since a
    * DataFrame would reference its session.
    *
    * Lifetime: each session has its own entries (a fresh one starts
    * cold) for as long as it lives. Spark keeps a session that has run an
    * action reachable for the life of the context; if one is ever
    * collected, the weak map drops its entries and Spark's
    * `ContextCleaner` drops their checkpoints.
    */
  private val memo = new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[
    (String, String, String, String), (StructType, RDD[Row])]]

  private[operators] def shared(s: SparkSession, d: String, kind: String)(build: => DataFrame): DataFrame = {
    val entries = memo.synchronized {
      memo.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap)
    }
    val key = (d, Tables.fingerprint(s, d), s.conf.get("spark.sql.shuffle.partitions"), kind)
    entries.forEach { (k, v) =>
      if (k._1 == d && k._2 != key._2 && entries.remove(k, v)) Iterate.releaseRDD(v._2)
    }
    // get + putIfAbsent, NOT computeIfAbsent: a build may itself consult
    // the memo (the converged-label build reads the shared pair table),
    // and a recursive computeIfAbsent throws "Recursive update" when the
    // two keys share a bin. Worst case, two threads build the same frame
    // and one checkpoint is discarded (benign: queries run serially).
    val cached = entries.get(key)
    if (cached != null) s.createDataFrame(cached._2, cached._1)
    else {
      val built = build.localCheckpoint()
      val prev = entries.putIfAbsent(key, (built.schema, built.rdd))
      if (prev != null) s.createDataFrame(prev._2, prev._1) else built
    }
  }

  /** [[minhashPairs]] / [[simhashPairs]] through the session memo — what
    * every multi-consumer call site (the whole g-family) should use.
    */
  private[operators] def minhashPairsShared(s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "minhashPairs")(minhashPairs(s, d))
  /** The banded signature frame (doc_id, sigv, band, sig) through the
    * session memo — rebuilt per execution by d12/d15/p12 and the pair
    * build before r11 (4 bench executions each = a dozen identical
    * shingle+minhash passes per session). B = K/R rows per doc, so the
    * held checkpoint is ~4n small rows. Nested `shared` calls are safe:
    * the memo uses get+putIfAbsent, never a bin-locking computeIfAbsent.
    */
  private[operators] def minhashBandsShared(s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "minhashBands")(minhashBands(s, d))
  private[operators] def simhashPairsShared(s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "simhashPairs")(simhashPairs(s, d))

  /** Canonical 3-token shingle explode: (doc_id, lang, s), one row per
    * DISTINCT shingle per doc. Four d-family queries (d04/d07/d14/d18)
    * grow from exactly this frame — it is deliberately NOT memoized
    * itself (a corpus-sized string frame held for the session would
    * pressure the same heap the other 350 queries run in); what the
    * session memo holds are its two SMALL derivatives below.
    */
  private def shingleDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("s"))
  }

  /** (doc_id, n): distinct-shingle count per doc — one row per doc.
    * Shared by d04/d07/d18 through the session memo (each used to
    * re-explode the corpus and re-aggregate it per query). d09 computes
    * the same counts but is deliberately left OFF the memo: it is the
    * pipeline_witness scale-ladder query, and a memo hit inside the
    * metered run would understate the very build cost the ladder
    * exists to measure.
    */
  private[operators] def shingleSizesShared(s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "shingleSizes") {
      import org.apache.spark.sql.functions._
      shingleDocs(s, d).groupBy("doc_id").agg(count(lit(1)).as("n"))
    }

  /** (doc_a, doc_b, n_common): the same-lang shingle equi-join pair
    * counts — the expensive self-join + aggregate that d04 (Jaccard),
    * d07 (containment), d14 (candidate blocking) and d18 (truth set)
    * each rebuilt per query. One row per CANDIDATE pair (bounded by the
    * blocking, not |corpus|^2), so the session-held checkpoint is small;
    * at 100 TB this is "materialize the candidate-pair table once per
    * pipeline run", the same argument as the minhash-pair memo above.
    */
  private[operators] def shinglePairCountsShared(s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "shinglePairCounts") {
      import org.apache.spark.sql.functions._
      val sh = shingleDocs(s, d)
      sh.select(col("doc_id").as("doc_a"), col("lang"), col("s"))
        .join(sh.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("s").as("s_b")),
          col("s") === col("s_b") && col("lang") === col("lang_b") &&
            col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    }

  /** The K hash functions are affine permutations of ONE md5-derived
    * 32-bit base hash: h_k(t) = (a_k * h32(t) + b_k) mod (2^31 - 1).
    * One md5 per shingle instead of K (16x less hashing — the classic
    * MinHash trick, e.g. Broder 1997), and the K running minima are
    * BIGINT comparisons instead of 32-char-string comparisons. The
    * products stay < 2^56 so the arithmetic is exact (and overflow-free)
    * in both engines; constants are fixed odd values < 2^25.
    */
  private val MOD = 2147483647L // 2^31 - 1, prime
  private def hashA(k: Int): Long = 2L * (1000003L * k + 12345L) + 1L
  private def hashB(k: Int): Long = 7000003L * k + 424243L

  /** Per-doc LSH band keys (doc_id, sigv, band, sig) — the banding half
    * of MinHash-LSH, shared by the candidate-pair join (d02/d06) and
    * the incremental admission filter (p12).
    */
  private[operators] def minhashBands(s: org.apache.spark.sql.SparkSession, d: String) = {
    val B = K / R
    val sh = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("token"))
      .select(col("doc_id"), expr(Ns.hash32("token")).as("h"))
    val mhCols = (0 until K).map(k =>
      min(expr(s"(${hashA(k)}L * h + ${hashB(k)}L) % ${MOD}L")).as(s"mh$k"))
    val sig = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      .withColumn("sigv", array((0 until K).map(k => col(s"mh$k")): _*))
    sig.select(col("doc_id"), col("sigv"),
      explode(array((0 until B).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", (0 until R).map(r => col(s"mh${b * R + r}")): _*)).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("sigv"), col("bs.band"), col("bs.sig"))
  }

  /** MinHash-LSH candidate pairs with estimated jaccard (d02 / d06).
    * Consumes the memoized band frame (a nested `shared` call — safe,
    * see [[minhashBandsShared]]), so the pair build's own memo miss no
    * longer re-runs the shingle+minhash pass.
    */
  private[operators] def minhashPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    Ns.registerFast(s)
    val bands = minhashBandsShared(s, d)
    val a = bands.select(col("doc_id").as("doc_a"), col("sigv").as("sa"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sigv").as("sb"),
      col("band").as("band_b"), col("sig").as("sig_b"))
    a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b") &&
        col("doc_a") < col("doc_b"))
      // r11: signature agreement per candidate pair through the codegen
      // vec_eq_count kernel instead of two interpreted lambdas per
      // element per PAIR (guide §4); same fold semantics bit-for-bit
      // (VecEqCount's doc spells out the ragged/null edges)
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST(vec_eq_count(sa, sb) AS DOUBLE) / $K").as("est_jaccard"))
      .distinct()
  }

  /** DuckDB CTE chain producing the same candidate pairs as
    * [[minhashPairs]], ending in `mpairs(doc_a, doc_b, est_jaccard)`.
    */
  private[operators] def minhashPairsOracleCtes: String = {
    val B = K / R
    val mhSelect = (0 until K).map(k =>
      s"min((${hashA(k)} * h + ${hashB(k)}) % $MOD) AS mh$k").mkString(",\n                 ")
    val bandArms = (0 until B).map(b =>
      s"WHEN $b THEN md5(concat_ws(',', ${(0 until R).map(r => s"mh${b * R + r}").mkString(", ")}))").mkString(" ")
    val sigList = (0 until K).map(k => s"mh$k").mkString(", ")
    s"""t0 AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS token
          FROM t0 WHERE len(toks) >= 3),
        th AS (
          SELECT doc_id, ${Ns.oHash32("token")} AS h FROM tok),
        sig AS (
          SELECT doc_id,
                 $mhSelect
          FROM th GROUP BY doc_id),
        bands AS (
          SELECT doc_id, [$sigList] AS sigv, b.band,
                 CASE b.band $bandArms END AS sig
          FROM sig CROSS JOIN (SELECT unnest([${(0 until B).mkString(", ")}]) AS band) b),
        mpairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(list_sum(list_transform(a.sigv, (x, i) -> CASE WHEN x = b.sigv[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $K AS est_jaccard
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"""
  }

  /** 32-bit SimHash fingerprint per doc (shared by d03 / d03b / g02). */
  private[operators] def simhashFp(s: org.apache.spark.sql.SparkSession, d: String) = {
    val h = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h", expr(Ns.hash32("token")))
    val bitSums = (0 until 32).map(p =>
      sum(when(expr(s"shiftright(h, $p) % 2") === 1, 1).otherwise(-1)).as(s"s$p"))
    val fp = (0 until 32).map(p =>
      when(col(s"s$p") > 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _)
    h.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs at hamming <= 3, byte-banded (the d03b
    * pairing, shared with the g02 triangle count). `doc_a < doc_b`.
    */
  private[operators] def simhashPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val fp = simhashFp(s, d)
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(t => struct(lit(t).as("band"),
        expr(s"shiftright(simhash, ${8 * t}) % 256").as("byte"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.byte"))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
      col("band"), col("byte"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
      col("band").as("band_b"), col("byte").as("byte_b"))
    a.join(b, col("band") === col("band_b") && col("byte") === col("byte_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** DuckDB CTE chain ending in `fp(doc_id, simhash)` — the SimHash
    * fingerprints [[simhashFp]] computes (shared by d03b / g02 oracles).
    */
  private[operators] def simhashFpOracleCtes: String = s"""tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        h AS (SELECT doc_id, ${Ns.oHash32("token")} AS h FROM tok),
        s AS (SELECT doc_id,
              ${(0 until 32).map(p => s"sum(CASE WHEN (h >> $p) % 2 = 1 THEN 1 ELSE -1 END) AS s$p").mkString(", ")}
              FROM h GROUP BY doc_id),
        fp AS (SELECT doc_id,
               ${(0 until 32).map(p => s"CASE WHEN s$p > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END").mkString(" + ")} AS simhash
               FROM s)"""

  /** Connected-component labels of the d02 near-dup graph (est_jaccard
    * >= 0.5): iterative label-min propagation, frontier-sized shuffles,
    * convergence observed via `Observation` — shared by d06 and d16
    * (both consume it through the session memo, so the loop runs once
    * per bench/verify session). Each round's superseded checkpoint is
    * released as soon as the next one materializes — without that, a
    * 361-query bench JVM pins every dead round's blocks for the life of
    * the process.
    */
  private def dupClusterLabels(s: org.apache.spark.sql.SparkSession, d: String) = {
    val pairs = minhashPairsShared(s, d).filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("cluster")).localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges.join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      val next = labels
        .join(nbrMin, col("doc_id") === col("src"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
          (col("nbr_min") < col("cluster")).as("moved"))
      val obs = org.apache.spark.sql.Observation()
      val nextCk = next
        .observe(obs, sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
        .select("doc_id", "cluster")
        .localCheckpoint(true)
      changed = obs.get("n_moved").asInstanceOf[Long]
      Iterate.release(labels)
      labels = nextCk
    }
    Iterate.release(edges)
    labels
  }

  /** [[dupClusterLabels]] through the session memo — the converged labels
    * feed d06, d16 and c10, so the whole label-prop loop should run once
    * per session, not once per consumer call.
    */
  private[operators] def dupClusterLabelsShared(
      s: org.apache.spark.sql.SparkSession, d: String) =
    shared(s, d, "dupClusterLabels")(dupClusterLabels(s, d))

  def defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------------------------
    // Exact dedup: canonical representative per identical text. Group key
    // is sha2(text) so at scale only 32-byte hashes shuffle; min(doc_id)
    // picks a deterministic survivor.
    QueryDef("d01_exact_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("text_hash"))
        Tables.documents(s, d)
          .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"))
          .select(col("doc_id"), col("text_hash"),
            min(col("doc_id")).over(w).as("canonical_id"))
          .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, sha256(text) AS text_hash,
               min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id,
               doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_canonical
        FROM documents
        ORDER BY doc_id""")),

    // -------------------------------------------------------------------
    // MinHash + LSH near-dup candidates: shingle (3-token) -> minhash ->
    // band -> bucket-join. K=16 hash functions derived from ONE
    // md5-based 32-bit shingle hash by affine permutation mod 2^31-1
    // (see minhashPairs — one md5 per shingle, not K); 4 bands x 4
    // rows. Candidate pairs = equal band signature in >= 1 band;
    // est_jaccard = matching signature components / K. The K minhashes
    // are K integer min-aggregates in ONE groupBy (map-side partial min
    // combine — the whole signature computation is a single narrow
    // shuffle of (doc_id, 16 bigints), no seed explosion).
    QueryDef("d02_minhash_lsh",
      (s, d) => minhashPairsShared(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH $minhashPairsOracleCtes
        SELECT doc_a, doc_b, est_jaccard FROM mpairs
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // SimHash 32-bit fingerprints. Token weight = term frequency (tokens
    // kept with multiplicity); bit p of the fingerprint is the sign of
    // sum(+-1) over token-hash bit p. One explode + one groupBy with 32
    // partial-agg counters — a single shuffle of (doc_id, 32 ints).
    QueryDef("d03_simhash",
      (s, d) => simhashFp(s, d).orderBy("doc_id"),
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        h AS (SELECT doc_id, ${Ns.oHash32("token")} AS h FROM tok),
        s AS (SELECT doc_id,
              ${(0 until 32).map(p => s"sum(CASE WHEN (h >> $p) % 2 = 1 THEN 1 ELSE -1 END) AS s$p").mkString(", ")}
              FROM h GROUP BY doc_id)
        SELECT doc_id,
               ${(0 until 32).map(p => s"CASE WHEN s$p > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END").mkString(" + ")} AS simhash
        FROM s ORDER BY doc_id""")),

    // -------------------------------------------------------------------
    // SimHash near-dup pairs: hamming distance on the 32-bit fingerprints,
    // BANDED — the 32 bits split into 4 bytes; pairs at hamming <= 3 have
    // < 4 differing bits, so by pigeonhole they agree on >= 1 whole byte
    // and an equi-join on (band_idx, byte) finds every such pair with no
    // all-pairs scan. Join fan-out is bounded by byte-bucket size, not
    // corpus size; distinct() collapses pairs matching in several bands.
    // Output is identical to the quadratic form (PlanSpec pins the plan
    // to a non-nested-loop equi-join).
    QueryDef("d03b_simhash_pairs",
      (s, d) => simhashPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH $simhashFpOracleCtes
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // Exact n-gram (3-token shingle) Jaccard within same-lang blocks.
    // The shingle equi-join shuffles on the shingle string; |pairs| is
    // bounded by the blocking, not |corpus|^2.
    QueryDef("d04_ngram_jaccard",
      (s, d) => {
        // shingle-pair counts + per-doc sizes from the session memo —
        // d04/d07/d14/d18 all grow from the same self-join (built once
        // per session instead of four times; see shinglePairCountsShared)
        val sizes = shingleSizesShared(s, d)
        val common = shinglePairCountsShared(s, d)
        common
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_common"),
            (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))).as("jaccard"))
          .filter(col("jaccard") >= 0.03)
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM t WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b
            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
        FROM common
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) >= 0.03
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // IDF-weighted token Jaccard over d04's shingle-blocked candidates:
    // rare-token overlap counts for more than stopword overlap (the
    // standard near-dup quality upgrade). IDF is floor-quantized
    // micro-nats of ln(N/df) — one identical double expression per
    // TOKEN, after which everything is exact integer sums: shared =
    // sum of idf over the token intersection, union = ta_total +
    // tb_total - shared, wj_ppm = 1e6*shared div union. Candidates are
    // same-lang pairs sharing >= 2 distinct 3-shingles (equi-join
    // blocking, never all-pairs). Scale: the token-intersection join is
    // per-candidate on the token key — bucket fan-out bounded.
    QueryDef("d14_weighted_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
        val tok = docs
          .select(col("doc_id"), explode(array_distinct(col("toks"))).as("token"))
          .filter(col("token") =!= "")
        val nd = docs.agg(count(lit(1)).as("n"))
        val idf = tok.groupBy("token").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nd))
          .select(col("token"),
            expr("CAST(floor(1000000 * ln(CAST(n AS DOUBLE) / df)) AS BIGINT)")
              .as("idf"))
        val wtok = tok.join(idf, "token")
        val totals = wtok.groupBy("doc_id").agg(sum(col("idf")).as("tot"))
        // candidates = the memoized shingle pair counts (same blocking
        // join as d04/d07/d18), thresholded at >= 2 shared shingles
        val cand = shinglePairCountsShared(s, d)
          .withColumnRenamed("n_common", "n_shingles")
          .filter(col("n_shingles") >= 2)
        val shared = cand
          .join(wtok.select(col("doc_id").as("doc_a"), col("token"), col("idf")), "doc_a")
          .join(wtok.select(col("doc_id").as("doc_b"), col("token").as("tb")),
            Seq("doc_b"), "inner")
          .filter(col("token") === col("tb"))
          .groupBy("doc_a", "doc_b", "n_shingles").agg(sum(col("idf")).as("shared_idf"))
        shared
          .join(totals.select(col("doc_id").as("doc_a"), col("tot").as("ta")), "doc_a")
          .join(totals.select(col("doc_id").as("doc_b"), col("tot").as("tb2")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_shingles"), col("shared_idf"),
            (col("ta") + col("tb2") - col("shared_idf")).as("union_idf"))
          .withColumn("wj_ppm", expr("1000000 * shared_idf div union_idf"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        tok AS (
          SELECT doc_id, u.token
          FROM t, unnest(list_distinct(toks)) AS u(token)
          WHERE u.token <> ''),
        nd AS (SELECT count(*) AS n FROM t),
        idf AS (
          SELECT token,
                 CAST(floor(1000000 * ln(CAST(n AS DOUBLE) / df)) AS BIGINT) AS idf
          FROM (SELECT token, count(*) AS df FROM tok GROUP BY token) CROSS JOIN nd),
        wtok AS (SELECT doc_id, tok.token, idf FROM tok JOIN idf ON tok.token = idf.token),
        totals AS (SELECT doc_id, CAST(sum(idf) AS BIGINT) AS tot FROM wtok GROUP BY doc_id),
        sh AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM t),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shingles
          FROM sh a JOIN sh b
            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING count(*) >= 2),
        shared AS (
          SELECT c.doc_a, c.doc_b, c.n_shingles,
                 CAST(sum(wa.idf) AS BIGINT) AS shared_idf
          FROM cand c
          JOIN wtok wa ON wa.doc_id = c.doc_a
          JOIN wtok wb ON wb.doc_id = c.doc_b AND wb.token = wa.token
          GROUP BY 1, 2, 3)
        SELECT s.doc_a, s.doc_b, n_shingles, shared_idf,
               ta.tot + tb.tot - shared_idf AS union_idf,
               1000000 * shared_idf // (ta.tot + tb.tot - shared_idf) AS wj_ppm
        FROM shared s
        JOIN totals ta ON s.doc_a = ta.doc_id
        JOIN totals tb ON s.doc_b = tb.doc_id
        ORDER BY s.doc_a, s.doc_b""")),

    // -------------------------------------------------------------------
    // Containment dedup: the quote / subset detector exact Jaccard (d04)
    // misses. A short document pasted inside a long one has LOW Jaccard
    // (the union is dominated by the long doc) but HIGH containment
    //   |A ∩ B| / min(|A|, |B|),
    // the overlap coefficient used by quote-removal / boilerplate passes
    // (cf. Broder's containment in "On the resemblance and containment
    // of documents", 1997). Same shingle equi-join + lang blocking as
    // d04 — one extra projection, zero extra shuffles; `contained_doc`
    // names the smaller side (ties -> doc_a), the deletion candidate.
    QueryDef("d07_containment",
      (s, d) => {
        // same memoized pair counts + sizes as d04 — d07 is one extra
        // projection over the identical blocking join
        val sizes = shingleSizesShared(s, d)
        val common = shinglePairCountsShared(s, d)
        common
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_common"),
            (col("n_common").cast("double") / least(col("na"), col("nb"))).as("containment"),
            when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("contained_doc"))
          .filter(col("containment") >= 0.12)
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        sh AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM t WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b
            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / least(x.n, y.n) AS containment,
               CASE WHEN x.n <= y.n THEN doc_a ELSE doc_b END AS contained_doc
        FROM common
        JOIN sizes x ON doc_a = x.doc_id
        JOIN sizes y ON doc_b = y.doc_id
        WHERE CAST(n_common AS DOUBLE) / least(x.n, y.n) >= 0.12
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // Embedding-cosine near-dup GROUND-TRUTH arm: exact cosine >= 0.35
    // for every pair touching a deterministic FIXED-COUNT doc sample
    // (the Ns.SampleK = 64 vec_ids of smallest md5 rank — the g19
    // recipe). The sample is what makes the exact arm survive scale:
    // one K-row broadcast streamed against the corpus scan is O(K·n) =
    // linear; the pre-round-9 all-pairs self-join was the repo's last
    // O(n²) product plan and flatly cannot run at 100×. d05b (the LSH
    // bucket join) is the PRODUCT path for the full pair set; this arm
    // is its recall oracle on the sampled stratum (NsOperatorsSpec pins
    // d05b against a scalar all-pairs replay besides). The dot product
    // is a sequential fold over doubles (bit-identical across engines,
    // partitionings and pair orientation — products commute per lane).
    QueryDef("d05_embedding_neardup",
      (s, d) => {
        Ns.registerFast(s)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
          .withColumn("nrm", sqrt(expr(Ns.dot("v", "v"))))
        val smp = e.orderBy(expr(Ns.sampleRank("vec_id")), col("vec_id")).limit(Ns.SampleK)
          .select(col("vec_id").as("sid"), col("v").as("sv"), col("nrm").as("sn"))
        e.join(broadcast(smp), col("vec_id") =!= col("sid"))
          .select(least(col("vec_id"), col("sid")).as("vec_a"),
            greatest(col("vec_id"), col("sid")).as("vec_b"),
            round(expr(Ns.dot("v", "sv")) / (col("nrm") * col("sn")), 6).as("cosine"))
          .filter(col("cosine") >= 0.35)
          // a pair with BOTH ends sampled arrives once per direction;
          // the cosine is orientation-invariant, so distinct dedupes it
          .distinct()
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, ${Ns.oToDouble("embedding")} AS v FROM embeddings),
        n AS (
          SELECT vec_id, v, sqrt(${Ns.oDot("v", "v")}) AS nrm FROM v),
        smp AS (
          SELECT vec_id, v, nrm FROM n
          ORDER BY ${Ns.oSampleRank("vec_id")}, vec_id LIMIT ${Ns.SampleK})
        SELECT DISTINCT least(a.vec_id, s.vec_id) AS vec_a,
               greatest(a.vec_id, s.vec_id) AS vec_b,
               round(${Ns.oDot("a.v", "s.v")} / (a.nrm * s.nrm), 6) AS cosine
        FROM n a JOIN smp s ON a.vec_id <> s.vec_id
        WHERE round(${Ns.oDot("a.v", "s.v")} / (a.nrm * s.nrm), 6) >= 0.35
        ORDER BY vec_a, vec_b""")),

    // -------------------------------------------------------------------
    // Embedding near-dup routed through multi-table random-hyperplane
    // LSH (the s04 bucket shape): T=16 tables x H=4 sign bits, all 64
    // hyperplanes md5-derived (exact dyadic doubles, identical in both
    // engines). Candidates = pairs sharing a code in ANY table (bucket
    // equi-join, shuffle-parallel, never all-pairs); exact cosine then
    // filters at 0.35. On this synthetic corpus the embeddings are
    // near-orthogonal noise (max pair cosine ~0.51), the adversarial
    // case for SRP-LSH — recall vs the exact all-pairs truth is still
    // ~0.94 (pinned in NsOperatorsSpec against a scalar replay); on
    // real clustered near-dup data the same config prunes to ~T/2^H of
    // pairs because true dups sit at cosine >= 0.9. d05 (the sampled
    // exact arm) stays as the at-scale recall oracle.
    QueryDef("d05b_embedding_neardup_lsh",
      (s, d) => {
        Ns.registerFast(s)
        val (tables, bits) = (16, 4)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
          .withColumn("nrm", sqrt(expr(Ns.dot("v", "v"))))
        val hyper = s.range(tables.toLong * bits).select(
          (col("id") / bits).cast("int").as("t"),
          (col("id") % bits).cast("int").as("p"),
          expr("transform(sequence(1, 64), i -> CAST(conv(substr(md5(concat('t', CAST((CAST(id AS INT) div 4) AS STRING), ':', CAST(pmod(id, 4) AS STRING), ':', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) / CAST(4294967296 AS DOUBLE) - CAST(0.5 AS DOUBLE))").as("w"))
        // (r11 probe, measured FLAT and reverted: session-memoizing this
        // code table as an index build — the s09 pattern — left the warm
        // median unchanged at ~1.8-2.0 s; the bucket pairing + exact
        // rerank below dominate, not the code computation)
        val codes = e.crossJoin(broadcast(hyper))
          .select(col("vec_id"), col("t"),
            when(expr(Ns.dot("v", "w")) >= 0,
              expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(lit(0L)).as("bit"))
          .groupBy("vec_id", "t").agg(sum(col("bit")).as("code"))
        val ca = codes.select(col("vec_id").as("vec_a"), col("t"), col("code"))
        val cb = codes.select(col("vec_id").as("vec_b"), col("t").as("t_b"), col("code").as("code_b"))
        val pairs = ca.join(cb, col("t") === col("t_b") && col("code") === col("code_b") &&
            col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b").distinct()
        val ea = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
        val eb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
        pairs.join(ea, "vec_a").join(eb, "vec_b")
          .select(col("vec_a"), col("vec_b"),
            round(expr(Ns.dot("va", "vb")) / (col("na") * col("nb")), 6).as("cosine"))
          .filter(col("cosine") >= 0.35)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, ${Ns.oToDouble("embedding")} AS v FROM embeddings),
        n AS (
          SELECT vec_id, v, sqrt(${Ns.oDot("v", "v")}) AS nrm FROM v),
        hyper AS (
          SELECT t, p, list_transform(generate_series(1, 64),
                   i -> CAST('0x' || substr(md5('t' || CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) / CAST(4294967296 AS DOUBLE) - CAST(0.5 AS DOUBLE)) AS w
          FROM range(16) a(t) CROSS JOIN range(4) b(p)),
        bits AS (
          SELECT vec_id, t,
                 CASE WHEN ${Ns.oDot("v", "w")} >= 0
                      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE CAST(0 AS BIGINT) END AS bit
          FROM n CROSS JOIN hyper),
        codes AS (SELECT vec_id, t, sum(bit) AS code FROM bits GROUP BY vec_id, t),
        pairs AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM codes a JOIN codes b
            ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b,
               round(${Ns.oDot("x.v", "y.v")} / (x.nrm * y.nrm), 6) AS cosine
        FROM pairs JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
        WHERE round(${Ns.oDot("x.v", "y.v")} / (x.nrm * y.nrm), 6) >= 0.35
        ORDER BY vec_a, vec_b""")),

    // -------------------------------------------------------------------
    // Duplicate clustering: connected components over the LSH candidate
    // graph (est_jaccard >= 0.5) via iterative min-label propagation —
    // the step that turns near-dup PAIRS into dedup GROUPS with a
    // deterministic survivor (min doc_id). Components are near-dup
    // clusters, so the loop converges in O(cluster diameter) ~ 2-3
    // shuffles regardless of corpus size. Oracle: DuckDB recursive CTE
    // reachability.
    QueryDef("d06_dup_clusters",
      (s, d) => {
        dupClusterLabelsShared(s, d)
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsOracleCtes,
        sel AS (SELECT doc_a, doc_b FROM mpairs WHERE est_jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM sel
          UNION ALL
          SELECT doc_b, doc_a FROM sel),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src)
        SELECT doc_id, cluster,
               count(*) OVER (PARTITION BY cluster) AS cluster_size
        FROM comp
        ORDER BY doc_id""")),

    // -------------------------------------------------------------------
    // Edit-distance (Levenshtein) blocked join — the fuzzy/entity-
    // resolution sibling of the set-based dedups above: document title
    // keys (first 24 chars) within edit distance 2, with candidate
    // generation BLOCKED on (first-4-char prefix, |length diff| <= 2).
    // The blocking is part of the operator's documented contract (as in
    // m04): a pair that edits its first 4 chars is out of scope — that
    // is what makes the join an equi-shuffle on the prefix key plus an
    // in-bucket length band, instead of an all-pairs scan. levenshtein()
    // has identical unit-cost semantics in both engines, so the oracle
    // mirrors the whole pipeline exactly. Scale: distance computed only
    // inside blocks; titles (24 chars), not documents, are shuffled —
    // and the blocking key itself is DE-SKEWED: boilerplate prefixes
    // ("The ", "http", "<!DO") concentrate a huge fraction of a crawl
    // corpus onto single join keys, so prefixes above HOT_PFX rows are
    // routed through Skew.deskewedJoin (a-side salted 8 ways by doc_a,
    // b-side replicated — per-reducer candidate work drops ~8x on the
    // hot keys) while the long tail pays no replication. The threshold
    // is corpus-relative in production; 128 here so the fixture's own
    // top prefixes exercise the salted path at sf0.1. Row set identical
    // to the plain join (the oracle) by construction.
    QueryDef("d08_editdist_join",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
          .withColumn("pfx", substring(col("title"), 1, 4))
          .withColumn("len", length(col("title")))
        val hot = t.groupBy("pfx").agg(count(lit(1)).as("n_pfx"))
          .filter(col("n_pfx") >= 128).select("pfx")
        val a = t.select(col("doc_id").as("doc_a"), col("title").as("ta"),
          col("pfx"), col("len").as("la"))
        val b = t.select(col("doc_id").as("doc_b"), col("title").as("tb"),
          col("pfx"), col("len").as("lb"))
        Skew.deskewedJoin(a, b, "pfx", col("doc_a"), hot, salts = 8)
          .filter(col("doc_a") < col("doc_b") &&
            abs(col("la") - col("lb")) <= 2)
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb")).as("dist"))
          .filter(col("dist") <= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, substr(text, 1, 24) AS title,
                 substr(text, 1, 4) AS pfx, length(substr(text, 1, 24)) AS len
          FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.title, b.title) AS INT) AS dist
        FROM t a JOIN t b
          ON a.pfx = b.pfx
         AND a.doc_id < b.doc_id
         AND abs(a.len - b.len) <= 2
        WHERE levenshtein(a.title, b.title) <= 2
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // Prefix-filtering set-similarity self-join (the AllPairs/PPJoin
    // family: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07) at
    // 3-shingle Jaccard >= 3/5. Unlike the d04 candidate generator,
    // which joins on EVERY shingle, each doc emits only its PREFIX —
    // its (n - ceil(t*n) + 1) globally rarest shingles — and two docs
    // are candidates only if their prefixes intersect. Complete by the
    // pigeonhole bound (two sets with Jaccard >= t must overlap inside
    // those prefixes under any shared total token order), and at 100 TB
    // the prefix join shuffles a ~(1-t) fraction of the shingle table,
    // ordered so the RAREST (= least joinable) shingles do the
    // blocking; the df ranking is one vocab-sized aggregate.
    //
    // All threshold math is integer-exact (t = 3/5: ceil(3n/5) =
    // (3n+4) div 5; J >= t <=> 5*common >= 3*union) — no float enters a
    // filter, so the pair set is bit-stable across engines and
    // partitionings; the reported jaccard double is output-only.
    QueryDef("d09_prefix_filter_join",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(array_distinct(expr(
            "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("token"))
        val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val df = tok.groupBy("token").agg(count(lit(1)).as("df"))
        val wPfx = Window.partitionBy("doc_id").orderBy(col("df"), col("token"))
        val prefix = tok.join(df, "token").join(sizes, "doc_id")
          .withColumn("r", row_number().over(wPfx))
          .filter(col("r") <= col("n") - expr("(3 * n + 4) div 5") + 1)
          .select(col("doc_id"), col("token"), col("n"))
        val cands = prefix.select(col("doc_id").as("doc_a"), col("token"), col("n").as("na"))
          .join(prefix.select(col("doc_id").as("doc_b"), col("token"), col("n").as("nb")),
            Seq("token"))
          .filter(col("doc_a") < col("doc_b") &&
            lit(5) * least(col("na"), col("nb")) >= lit(3) * greatest(col("na"), col("nb")))
          .select("doc_a", "doc_b", "na", "nb").distinct()
        val common = cands
          .join(tok.select(col("doc_id").as("doc_a"), col("token")), "doc_a")
          .join(tok.select(col("doc_id").as("doc_b"), col("token").as("tok_b")), "doc_b")
          .filter(col("token") === col("tok_b"))
          .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("n_common"))
        common
          .filter(lit(5) * col("n_common") >= lit(3) * (col("na") + col("nb") - col("n_common")))
          .select(col("doc_a"), col("doc_b"), col("n_common"),
            (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH raw AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS token
          FROM raw WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        df AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
        prefix AS (
          SELECT doc_id, token, n FROM (
            SELECT t.doc_id, t.token, s.n,
                   row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.token) AS r
            FROM tok t JOIN df f ON t.token = f.token JOIN sizes s ON t.doc_id = s.doc_id)
          WHERE r <= n - ((3 * n + 4) // 5) + 1),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb
          FROM prefix a JOIN prefix b ON a.token = b.token
          WHERE a.doc_id < b.doc_id
            AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)),
        common AS (
          SELECT c.doc_a, c.doc_b, c.na, c.nb, count(*) AS n_common
          FROM cands c
          JOIN tok x ON x.doc_id = c.doc_a
          JOIN tok y ON y.doc_id = c.doc_b AND y.token = x.token
          GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
        FROM common
        WHERE 5 * n_common >= 3 * (na + nb - n_common)
        ORDER BY doc_a, doc_b""")),

    // -------------------------------------------------------------------
    // Content-defined chunking (CDC) sub-document dedup: cut each text
    // where a rolling hash of the trailing 4 chars hits 0 mod 32 (the
    // rsync/LBFS boundary trick — boundaries move WITH the content, so a
    // one-char insertion re-chunks only the neighborhood instead of
    // shifting every fixed-width block), md5 the chunks, and count how
    // much of each doc is duplicated elsewhere at chunk granularity.
    // This is the sub-document complement to d01 (whole-doc) and d04
    // (shingle similarity): boilerplate/quotation detection at 100 TB is
    // a groupBy on the chunk hash — content never joins against content,
    // and the explode fan-out is ~n_chars/32 rows per doc. The rolling
    // hash is plain integer arithmetic (< 4e6, exact in both engines);
    // chunk identity crosses engines via md5 hex.
    QueryDef("d10_cdc_chunks",
      (s, d) => {
        val W = 4     // rolling-hash window (chars)
        val MASK = 32 // boundary when h % MASK == 0 -> ~32-char avg chunks
        Ns.registerFast(s)
        val docs = Tables.documents(s, d)
        // r11: the chunker used to run as three interpreted HOF passes
        // per document (transform/ascii codes, filter/sequence cuts,
        // zip_with slices) + explode — ~3 interpreted lambda trees per
        // CHARACTER (guide §4). [[graft.functions.CdcChunks]] is the
        // same rolling-hash walk as ONE compiled pass that streams
        // chunks straight into GenerateExec; same cuts, same slices,
        // same empty-chunk filter (and the old n < W sequence() guard
        // is moot — the generator's cut loop is simply empty there).
        val chunks = docs
          .select(col("doc_id"), expr(s"cdc_chunks(text, $W, $MASK)"))
          .select(col("doc_id"), md5(col("chunk")).as("h"))
        // r11 probe, measured flat-to-slower and reverted: checkpointing
        // the distinct chunk table read 1.63/1.33 vs 1.29 s across two
        // flat benches — the spread agg and the attach join both consume
        // the distinct's (doc_id, h) exchange, which ReuseExchange already
        // collapses, so the chunk chain runs once either way and the
        // checkpoint only adds a materialization.
        val docChunks = chunks.distinct()
        val spread = docChunks.groupBy("h").agg(countDistinct("doc_id").as("nd"))
        docChunks.join(spread, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("dup_ratio",
            round(col("n_shared").cast("double") / col("n_chunks"), 6))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, text,
                 list_transform(regexp_extract_all(text, '.'), c -> ascii(c)) AS codes,
                 len(regexp_extract_all(text, '.')) AS n
          FROM documents),
        cutst AS (
          SELECT doc_id, text, n,
                 list_filter(generate_series(4, n),
                   i -> (codes[i-3] * 29791 + codes[i-2] * 961 + codes[i-1] * 31
                         + codes[i]) % 32 = 0) AS cuts
          FROM base),
        chunkst AS (
          SELECT doc_id,
                 unnest(list_filter(list_transform(generate_series(1, len(cuts) + 1),
                   i -> substring(text,
                     (CASE WHEN i = 1 THEN 0 ELSE cuts[i-1] END) + 1,
                     (CASE WHEN i = len(cuts) + 1 THEN n ELSE cuts[i] END)
                       - (CASE WHEN i = 1 THEN 0 ELSE cuts[i-1] END))),
                   c -> c <> '')) AS chunk
          FROM cutst),
        docchunks AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM chunkst),
        spread AS (SELECT h, count(DISTINCT doc_id) AS nd FROM docchunks GROUP BY h)
        SELECT c.doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
               round(CAST(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
        FROM docchunks c JOIN spread s ON c.h = s.h
        GROUP BY c.doc_id
        ORDER BY c.doc_id""")),

    // -------------------------------------------------------------------
    // Near-dup threshold tuning curve: how the candidate-pair count and
    // the affected-document rate fall as the est_jaccard cut rises —
    // the knob-setting table a dedup rollout reads before committing to
    // a threshold (d02 fixes 0.5; this shows what 0.75/0.9/1.0 would
    // have removed instead). One pass over the LSH candidate pairs
    // (never all-pairs), a broadcast thresholds dimension, exact ppm.
    QueryDef("d11_dup_rate_curve",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val pairs = minhashPairsShared(s, d) // memoized: three curve points + other consumers read it
        val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val thr = s.sql("SELECT explode(array(0.5D, 0.75D, 0.9D, 1.0D)) AS thr")
        val byThr = broadcast(thr).join(pairs, col("est_jaccard") >= col("thr"))
        val perPair = byThr.groupBy("thr").agg(count(lit(1)).as("n_pairs"))
        val docs = byThr.select(col("thr"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
          .distinct().groupBy(col("thr").as("t2")).agg(count(lit(1)).as("n_docs_dup"))
        perPair.join(docs, col("thr") === col("t2")).crossJoin(nd)
          .select(col("thr"), col("n_pairs"), col("n_docs_dup"),
            expr("1000000 * n_docs_dup div n_docs").as("dup_ppm"))
          .orderBy("thr")
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        nd AS (SELECT count(*) AS n_docs FROM documents),
        thr AS (SELECT unnest([0.5, 0.75, 0.9, 1.0]) AS thr),
        bythr AS (
          SELECT t.thr, p.doc_a, p.doc_b
          FROM thr t JOIN mpairs p ON p.est_jaccard >= t.thr),
        perpair AS (SELECT thr, count(*) AS n_pairs FROM bythr GROUP BY thr),
        docs AS (
          SELECT thr, count(*) AS n_docs_dup FROM (
            SELECT DISTINCT thr, doc FROM (
              SELECT thr, unnest([doc_a, doc_b]) AS doc FROM bythr))
          GROUP BY thr)
        SELECT p.thr, p.n_pairs, d.n_docs_dup,
               1000000 * d.n_docs_dup // n.n_docs AS dup_ppm
        FROM perpair p JOIN docs d ON p.thr = d.thr CROSS JOIN nd n
        ORDER BY p.thr""")),

    // -------------------------------------------------------------------
    // LSH band-parameter tuning curve: the same 16 minhashes regrouped
    // as (bands x rows) = (8x2), (4x4), (2x8) — candidate volume vs
    // precision for each banding, the b/r tradeoff table (more, shorter
    // bands = higher recall, lower precision) that justifies d02's 4x4
    // before scaling out. The signatures are computed ONCE (the d02
    // aggregation) and only re-sliced per config; candidate pairs stay
    // equi-join-blocked per (config, band, key) — never all-pairs.
    // "good" = signature agreement >= 0.5, the d02 admission bar.
    QueryDef("d12_lsh_band_curve",
      (s, d) => {
        import org.apache.spark.sql.functions.broadcast
        Ns.registerFast(s)
        // signatures from the session memo (one banded-signature build
        // per session, not per execution); distinct() collapses the
        // B band rows back to one (doc_id, sigv) row each
        val sig = minhashBandsShared(s, d).select(col("doc_id"), col("sigv")).distinct()
          .localCheckpoint() // one signature frame feeds all three bandings
        val cfg = s.sql("""SELECT c.b AS b, c.r AS r FROM (
          SELECT explode(array(named_struct('b', 8, 'r', 2),
                               named_struct('b', 4, 'r', 4),
                               named_struct('b', 2, 'r', 8))) AS c)""")
        val banded = sig.crossJoin(broadcast(cfg))
          .select(col("doc_id"), col("sigv"), col("b"), col("r"),
            explode(expr("sequence(0, b - 1)")).as("band"))
          .withColumn("key", expr(
            "md5(concat_ws(',', transform(slice(sigv, band * r + 1, r), x -> CAST(x AS STRING))))"))
        val a = banded.select(col("b"), col("r"), col("band"), col("key"),
          col("doc_id").as("doc_a"), col("sigv").as("sa"))
        val bb = banded.select(col("b").as("b2"), col("r").as("r2"),
          col("band").as("band2"), col("key").as("key2"),
          col("doc_id").as("doc_b"), col("sigv").as("sb"))
        val pairs = a.join(bb,
            col("b") === col("b2") && col("r") === col("r2") &&
              col("band") === col("band2") && col("key") === col("key2") &&
              col("doc_a") < col("doc_b"))
          .select(col("b"), col("r"), col("doc_a"), col("doc_b"),
            // r11: codegen vec_eq_count kernel, not two interpreted
            // lambdas per element per candidate pair (guide §4) — this
            // site runs EVERY execution (only `sig` is memoized)
            expr(s"CAST(vec_eq_count(sa, sb) AS DOUBLE) / $K").as("est"))
          .distinct()
        pairs.groupBy("b", "r")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_good"))
          .withColumn("precision_ppm", expr("1000000 * n_good div n_pairs"))
          .select(col("b").as("n_bands"), col("r").as("rows_per_band"),
            col("n_pairs"), col("n_good"), col("precision_ppm"))
          .orderBy(col("n_bands").desc)
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        sigl AS (SELECT doc_id, sigv FROM (SELECT DISTINCT doc_id, sigv FROM bands)),
        cfg AS (SELECT c.b AS b, c.r AS r FROM (
          SELECT unnest([struct_pack(b := 8, r := 2),
                         struct_pack(b := 4, r := 4),
                         struct_pack(b := 2, r := 8)]) AS c)),
        banded AS (
          SELECT doc_id, sigv, b, r, CAST(u.band AS INT) AS band,
                 md5(array_to_string(sigv[CAST(u.band AS INT) * r + 1 : CAST(u.band AS INT) * r + r], ',')) AS key
          FROM sigl CROSS JOIN cfg, unnest(generate_series(0, b - 1)) AS u(band)),
        prs AS (
          SELECT DISTINCT x.b, x.r, x.doc_a, x.doc_b, x.est FROM (
            SELECT a.b, a.r, a.doc_id AS doc_a, bb.doc_id AS doc_b,
                   CAST(list_sum(list_transform(a.sigv, (x, i) -> CASE WHEN x = bb.sigv[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $K AS est
            FROM banded a JOIN banded bb
              ON a.b = bb.b AND a.r = bb.r AND a.band = bb.band
             AND a.key = bb.key AND a.doc_id < bb.doc_id) x)
        SELECT b AS n_bands, r AS rows_per_band,
               count(*) AS n_pairs,
               CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
               1000000 * CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS precision_ppm
        FROM prs
        GROUP BY b, r
        ORDER BY b DESC""")),

    // -------------------------------------------------------------------
    // MinHash estimator accuracy audit: for every d02 candidate pair,
    // the 16-hash signature estimate vs the TRUE distinct-shingle
    // Jaccard — the per-pair error card that justifies (or indicts) the
    // sketch size before a 100 TB dedup run trusts it. True Jaccard is
    // computed ONLY for the candidate pairs, in exact integers: each
    // candidate doc's distinct-shingle array is built once and joined to
    // the pair on both sides; |A∩B| = size(array_intersect), |A∪B| =
    // na + nb − common, micro-quantized by positive BIGINT floor
    // division. Pairs that share no shingle are dropped, as the oracle's
    // shingle equi-join drops them. est·1e6 = matches·62500 is an exact
    // integral double, so the BIGINT cast is lossless in both engines.
    // The pair table comes from the session memo d02 built (keyed on
    // the files under `d`, the partition setting and the kind; it lives
    // with the session), so after d02 this query persists nothing and
    // never shuffles the exploded shingles. Scale: one array row per doc,
    // join fan-out bounded by the d02 blocking.
    QueryDef("d13_minhash_accuracy",
      (s, d) => {
        val pairs = minhashPairsShared(s, d)
          .select(col("doc_a"), col("doc_b"),
            expr("CAST(est_jaccard * 1000000 AS BIGINT)").as("est_micro"))
        val sh = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), array_distinct(expr(
            "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("sh"))
        pairs
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("est_micro"),
            size(array_intersect(col("sa"), col("sb"))).cast("bigint").as("n_common"),
            size(col("sa")).cast("bigint").as("na"), size(col("sb")).cast("bigint").as("nb"))
          .filter(col("n_common") > 0)
          .select(col("doc_a"), col("doc_b"), col("est_micro"),
            expr("n_common * 1000000 div (na + nb - n_common)").as("true_micro"))
          .withColumn("err_micro", abs(col("est_micro") - col("true_micro")))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        est AS (
          SELECT doc_a, doc_b, CAST(est_jaccard * 1000000 AS BIGINT) AS est_micro
          FROM mpairs),
        sizes AS (SELECT doc_id, count(*) AS nsh FROM tok GROUP BY doc_id),
        common AS (
          SELECT e.doc_a, e.doc_b, e.est_micro, count(*) AS n_common
          FROM est e
          JOIN tok a ON a.doc_id = e.doc_a
          JOIN tok b ON b.doc_id = e.doc_b AND b.token = a.token
          GROUP BY e.doc_a, e.doc_b, e.est_micro)
        SELECT c.doc_a, c.doc_b, c.est_micro,
               CAST(c.n_common * 1000000 // (sa.nsh + sb.nsh - c.n_common) AS BIGINT)
                 AS true_micro,
               CAST(abs(c.est_micro
                    - c.n_common * 1000000 // (sa.nsh + sb.nsh - c.n_common)) AS BIGINT)
                 AS err_micro
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        ORDER BY c.doc_a, c.doc_b""")),

    // -------------------------------------------------------------------
    // LSH bucket-skew audit: per band, the bucket-size distribution the
    // d02 candidate join will fan out over — n_buckets, the biggest
    // bucket, the TOTAL candidate-pair work Σ s·(s−1)/2 (the join's
    // actual output size), and a Gini coefficient of bucket sizes
    // (q95's exact cross-multiplied spelling: sizes ranked ascending,
    // G = (2·Σi·s − (n+1)·Σs)·1e6 div (n·Σs)). THE pre-flight check
    // before a 100 TB LSH join: a hot bucket here is a straggler
    // there, and the fix (more bands / salting) is cheap before the
    // run and expensive after. Scale: one groupBy to bucket sizes —
    // band-count × bucket-count rows, fixture-free arithmetic after.
    QueryDef("d15_lsh_bucket_skew",
      (s, d) => {
        val buckets = minhashBandsShared(s, d)
          .groupBy("band", "sig").agg(count(lit(1)).as("sz"))
        val ranked = buckets
          .withColumn("i", row_number().over(
            Window.partitionBy("band").orderBy(col("sz"), col("sig"))).cast("long"))
        ranked.groupBy("band")
          .agg(count(lit(1)).as("n_buckets"), sum(col("sz")).as("n_docs"),
            max(col("sz")).as("max_bucket"),
            sum(expr("sz * (sz - 1) div 2")).as("candidate_pairs"),
            sum(expr("i * sz")).as("is_sum"))
          .select(col("band"), col("n_buckets"), col("n_docs"), col("max_bucket"),
            col("candidate_pairs"),
            expr("""(2 * is_sum - (n_buckets + 1) * n_docs) * 1000000
                    div (n_buckets * n_docs)""").as("gini_micro"))
          .orderBy("band")
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        bsz AS (
          SELECT band, sig, count(*) AS sz FROM bands GROUP BY band, sig),
        ranked AS (
          SELECT band, sz,
                 CAST(row_number() OVER (PARTITION BY band ORDER BY sz, sig) AS BIGINT) AS i
          FROM bsz)
        SELECT band, count(*) AS n_buckets, CAST(sum(sz) AS BIGINT) AS n_docs,
               CAST(max(sz) AS BIGINT) AS max_bucket,
               CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs,
               CAST((2 * CAST(sum(i * sz) AS BIGINT) - (count(*) + 1) * CAST(sum(sz) AS BIGINT))
                    * 1000000 // (count(*) * CAST(sum(sz) AS BIGINT)) AS BIGINT) AS gini_micro
        FROM ranked
        GROUP BY band
        ORDER BY band""")),

    // -------------------------------------------------------------------
    // Transitive-inflation audit of the dup clusters: per multi-doc
    // d06 component, how many of its C(size,2) implied duplicate pairs
    // are backed by a DIRECT d02 candidate edge vs created purely by
    // transitive chaining — the number that says whether
    // cluster-level dedup (keep one per component) is deleting
    // documents no evidence ever paired. A long chain a-b-c-d has 3
    // direct edges but implies 6 pairs: inflation 50%. All integers
    // (pair counts, micro share). Scale: one label-prop pass (shared
    // with d06), one cluster-keyed edge count, arithmetic on
    // component-sized rows.
    QueryDef("d16_transitive_inflation",
      (s, d) => {
        val labels = dupClusterLabelsShared(s, d)
        val pairs = minhashPairsShared(s, d).filter(col("est_jaccard") >= 0.5)
          .select("doc_a", "doc_b")
        val direct = pairs
          .join(labels.select(col("doc_id").as("doc_a"), col("cluster")), "doc_a")
          .groupBy("cluster").agg(count(lit(1)).as("direct_edges"))
        val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("size"))
          .filter(col("size") >= 2)
        sizes.join(direct, Seq("cluster"), "left")
          .select(col("cluster"), col("size"),
            coalesce(col("direct_edges"), lit(0L)).as("direct_edges"),
            expr("size * (size - 1) div 2").as("implied_pairs"))
          .withColumn("transitive_pairs", expr("implied_pairs - direct_edges"))
          .withColumn("inflation_micro",
            expr("(implied_pairs - direct_edges) * 1000000 div implied_pairs"))
          .orderBy("cluster")
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsOracleCtes,
        sel AS (SELECT doc_a, doc_b FROM mpairs WHERE est_jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM sel
          UNION ALL
          SELECT doc_b, doc_a FROM sel),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
        sizes AS (
          SELECT cluster, count(*) AS size FROM comp GROUP BY cluster HAVING count(*) >= 2),
        direct AS (
          SELECT c.cluster, count(*) AS direct_edges
          FROM sel p JOIN comp c ON p.doc_a = c.doc_id
          GROUP BY c.cluster)
        SELECT s.cluster, CAST(s.size AS BIGINT) AS size,
               CAST(coalesce(d.direct_edges, 0) AS BIGINT) AS direct_edges,
               CAST(s.size * (s.size - 1) // 2 AS BIGINT) AS implied_pairs,
               CAST(s.size * (s.size - 1) // 2 - coalesce(d.direct_edges, 0) AS BIGINT)
                 AS transitive_pairs,
               CAST((s.size * (s.size - 1) // 2 - coalesce(d.direct_edges, 0)) * 1000000
                    // (s.size * (s.size - 1) // 2) AS BIGINT) AS inflation_micro
        FROM sizes s LEFT JOIN direct d ON s.cluster = d.cluster
        ORDER BY s.cluster""")),

    // Windowed exact-substring dedup (the Lee et al. 2022 "Deduplicating
    // Training Data" substring pass, in its shingle-window form): every
    // w=8-token window is hashed, a window whose hash occurs >= 2 times
    // ANYWHERE in the corpus (across docs or repeated within one doc) is
    // duplicated text, and each document reports its duplicated-window
    // fraction — the per-doc number an LLM-pipeline curation step
    // thresholds on. All integers (52-bit window hashes, ppm fraction via
    // exact div). Scale: the explode shuffles 8-token windows only to
    // hash them — the groupBy key is the 52-bit hash (high-cardinality,
    // partial-agg combine), the per-doc rollup is a second partial agg,
    // and nothing ever pairs documents: cost is O(total tokens), not
    // O(docs^2), exactly why substring dedup is the scalable first pass
    // at 100 TB.
    QueryDef("d17_window_substring_dup",
      (s, d) => {
        val W = 8
        val winList = (0 until W).map(k => s"toks[i + $k]").mkString(", ")
        val wh = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= W)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(0, size(toks) - $W), i -> concat_ws(' ', $winList))")).as("w"))
          .select(col("doc_id"), expr(Ns.hash52("w")).as("h"))
        val occ = wh.groupBy("h").agg(count(lit(1)).as("occ"))
        val perdoc = wh.join(occ, "h").groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("dup_windows"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(perdoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_windows"), lit(0L)).as("n_windows"),
            coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
          .withColumn("dup_ppm", expr(
            "CASE WHEN n_windows = 0 THEN CAST(0 AS BIGINT) ELSE dup_windows * 1000000 div n_windows END"))
          .orderBy("doc_id")
      },
      Some {
        val winListO = (0 until 8).map(k => s"toks[i + $k]").mkString(", ")
        s"""
        WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        win AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 7),
                        i -> concat_ws(' ', $winListO))) AS w
          FROM t0 WHERE len(toks) >= 8),
        wh AS (SELECT doc_id, ${Ns.oHash52("w")} AS h FROM win),
        occ AS (SELECT h, count(*) AS occ FROM wh GROUP BY h),
        perdoc AS (
          SELECT doc_id, count(*) AS n_windows,
                 sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS dup_windows
          FROM wh JOIN occ USING (h) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(dup_windows, 0) AS BIGINT) AS dup_windows,
               CAST(CASE WHEN coalesce(n_windows, 0) = 0 THEN 0
                    ELSE coalesce(dup_windows, 0) * 1000000 // n_windows END AS BIGINT) AS dup_ppm
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id"""
      }),

    // Blocking-quality card (the Christen entity-resolution evaluation
    // pair): REDUCTION RATIO — how much of the all-pairs space the LSH
    // banding never scores — and PAIR COMPLETENESS — what fraction of
    // the ground-truth duplicate pairs the banding still catches. Truth
    // = pairs whose EXACT 3-shingle Jaccard is >= 0.5 (the d04 scoring;
    // its shared-shingle equi-join blocking is LOSSLESS for j >= 0.5,
    // any such pair shares a shingle, so the truth set is complete
    // without an all-pairs join; the integer condition 2*|I| >= |U|
    // keeps floats out of the cut). Completeness here is the honest
    // MinHash-LSH S-curve sample — with 4 bands of 4 rows the catch
    // probability at j is 1-(1-j^4)^4, ~0.23 at the j=0.5 edge and
    // ->1 near j=1 — measured and hash-pinned, NOT assumed: a banding
    // regression moves this number and fails the gate. Scale: both
    // pair sets come from equi-join blocking; counts and ratios are
    // one-row arithmetic.
    QueryDef("d18_blocking_quality",
      (s, d) => {
        // truth = the memoized shingle pair counts (the same blocking
        // join d04/d07/d14 consume) thresholded at exact Jaccard >= 0.5
        val sizes = shingleSizesShared(s, d)
        val truth = shinglePairCountsShared(s, d)
          .select(col("doc_a").as("ta"), col("doc_b").as("tb"), col("n_common"))
          .join(sizes.select(col("doc_id").as("ta"), col("n").as("na")), "ta")
          .join(sizes.select(col("doc_id").as("tb"), col("n").as("nb")), "tb")
          .filter(expr("2 * n_common >= na + nb - n_common"))
          .select(col("ta"), col("tb")).localCheckpoint()
        val cands = Dedup.minhashPairsShared(s, d).select(col("doc_a"), col("doc_b"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val nCand = cands.agg(count(lit(1)).as("candidate_pairs"))
        val nTruth = truth.agg(count(lit(1)).as("dup_pairs"))
        val nHit = truth.join(cands,
            col("ta") === col("doc_a") && col("tb") === col("doc_b"), "left_semi")
          .agg(count(lit(1)).as("dup_pairs_blocked"))
        nDocs.crossJoin(nCand).crossJoin(nTruth).crossJoin(nHit)
          .select(col("n_docs"),
            expr("n_docs * (n_docs - 1) div 2").as("all_pairs"),
            col("candidate_pairs"), col("dup_pairs"), col("dup_pairs_blocked"))
          .withColumn("pair_completeness_ppm", expr(
            "CASE WHEN dup_pairs = 0 THEN CAST(1000000 AS BIGINT) ELSE dup_pairs_blocked * 1000000 div dup_pairs END"))
          .withColumn("reduction_ratio_ppm", expr(
            "(all_pairs - candidate_pairs) * 1000000 div all_pairs"))
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        td18 AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        shd AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
          FROM td18 WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
        truth AS (
          SELECT ta, tb FROM (
            SELECT a.doc_id AS ta, b.doc_id AS tb, count(*) AS n_common
            FROM shd a JOIN shd b
              ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) c
          JOIN sizes sa ON c.ta = sa.doc_id
          JOIN sizes sb ON c.tb = sb.doc_id
          WHERE 2 * n_common >= sa.n + sb.n - n_common),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        nc AS (SELECT count(*) AS candidate_pairs FROM mpairs),
        nt AS (SELECT count(*) AS dup_pairs FROM truth),
        nh AS (
          SELECT count(*) AS dup_pairs_blocked
          FROM truth t WHERE EXISTS (
            SELECT 1 FROM mpairs m WHERE m.doc_a = t.ta AND m.doc_b = t.tb))
        SELECT n_docs,
               CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS all_pairs,
               candidate_pairs, dup_pairs, dup_pairs_blocked,
               CAST(CASE WHEN dup_pairs = 0 THEN 1000000
                    ELSE dup_pairs_blocked * 1000000 // dup_pairs END AS BIGINT)
                 AS pair_completeness_ppm,
               CAST((n_docs * (n_docs - 1) // 2 - candidate_pairs) * 1000000
                    // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS reduction_ratio_ppm
        FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN nh""")),

    // -------------------------------------------------------------------
    // Cross-partition duplicate-leakage card: every d02 near-dup pair
    // (est_jaccard >= 0.5, the shared memo) is tagged under THREE ways a
    // 100 TB dedup run might be sharded — by language, by source, and by
    // a 16-way doc-id hash shard (the md5 scheme a naive "dedup each
    // shard independently" design would use) — and counted per
    // (dim, key_a, key_b) cell with its share of the dim's pair total.
    // is_cross rows are exactly the duplicate pairs shard-local dedup
    // would MISS: the number that decides whether per-partition dedup is
    // safe (lang/source partitions, where cross traffic may be near
    // zero) or provably lossy (random hash shards, where ~15/16 of all
    // dup pairs are cross-shard by construction). Scale: the pair table
    // is the memoized LSH build; the metadata attach is one narrow
    // (doc_id, lang, source) projection joined pair-bounded; everything
    // after is cell-sized. All integers; ppm by exact floor division.
    QueryDef("d19_cross_partition_leakage",
      (s, d) => {
        val pairs = minhashPairsShared(s, d).filter(col("est_jaccard") >= 0.5)
          .select("doc_a", "doc_b")
        val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"),
          expr(s"lpad(CAST(${Ns.hash32("CAST(doc_id AS STRING)")} % 16 AS STRING), 2, '0')")
            .as("shard"))
        val j = pairs
          .join(meta.select(col("doc_id").as("doc_a"), col("lang").as("la"),
            col("source").as("sa"), col("shard").as("ha")), "doc_a")
          .join(meta.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
            col("source").as("sb"), col("shard").as("hb")), "doc_b")
        val tagged = j.select(lit("lang").as("dim"),
            least(col("la"), col("lb")).as("key_a"), greatest(col("la"), col("lb")).as("key_b"))
          .unionAll(j.select(lit("source").as("dim"),
            least(col("sa"), col("sb")).as("key_a"), greatest(col("sa"), col("sb")).as("key_b")))
          .unionAll(j.select(lit("shard16").as("dim"),
            least(col("ha"), col("hb")).as("key_a"), greatest(col("ha"), col("hb")).as("key_b")))
        tagged.groupBy("dim", "key_a", "key_b").agg(count(lit(1)).as("n_pairs"))
          .withColumn("is_cross", col("key_a") =!= col("key_b"))
          .withColumn("share_ppm", expr(
            "1000000 * n_pairs div sum(n_pairs) OVER (PARTITION BY dim)"))
          .select("dim", "key_a", "key_b", "n_pairs", "is_cross", "share_ppm")
          .orderBy("dim", "key_a", "key_b")
      },
      Some(s"""
        WITH $minhashPairsOracleCtes,
        sel19 AS (SELECT doc_a, doc_b FROM mpairs WHERE est_jaccard >= 0.5),
        meta AS (
          SELECT doc_id, lang, source,
                 lpad(CAST(${Ns.oHash32("CAST(doc_id AS VARCHAR)")} % 16 AS VARCHAR), 2, '0')
                   AS shard
          FROM documents),
        j AS (
          SELECT a.lang AS la, b.lang AS lb, a.source AS sa, b.source AS sb,
                 a.shard AS ha, b.shard AS hb
          FROM sel19 JOIN meta a ON doc_a = a.doc_id JOIN meta b ON doc_b = b.doc_id),
        tagged AS (
          SELECT 'lang' AS dim, least(la, lb) AS key_a, greatest(la, lb) AS key_b FROM j
          UNION ALL
          SELECT 'source', least(sa, sb), greatest(sa, sb) FROM j
          UNION ALL
          SELECT 'shard16', least(ha, hb), greatest(ha, hb) FROM j),
        g19 AS (
          SELECT dim, key_a, key_b, count(*) AS n_pairs
          FROM tagged GROUP BY dim, key_a, key_b)
        SELECT dim, key_a, key_b, CAST(n_pairs AS BIGINT) AS n_pairs,
               key_a <> key_b AS is_cross,
               CAST(1000000 * n_pairs // sum(n_pairs) OVER (PARTITION BY dim) AS BIGINT)
                 AS share_ppm
        FROM g19
        ORDER BY dim, key_a, key_b"""))
  )
}
