package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterated byte-pair-encoding MERGE TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909) — the N-round loop `bpe_merge_pairs`' single
  * iteration belongs to. Each round counts adjacent SYMBOL pairs over
  * the vocabulary weighted by word frequency, merges the most frequent
  * pair everywhere (greedy left-to-right within a word, the BPE
  * contract), and repeats on the evolved vocabulary; the output is the
  * ordered merge table a tokenizer ships with.
  *
  * Scale shape: the corpus is scanned ONCE — the word-frequency
  * aggregate — and every round after that is vocabulary-sized
  * (thousands-to-millions of rows, not the corpus), with
  * `localCheckpoint` truncating the loop lineage (the [[GraphOps]]
  * driver-loop idiom). The per-round winner is ONE collected row.
  * [[train]] runs one Spark job pair per merge, so its cap is 1,000
  * merges; a REAL tokenizer vocabulary (30k-50k merges) goes through
  * [[trainBatched]], which learns up to `batch` mutually
  * NON-INTERACTING merges per round (disjoint symbol sets commute, so
  * one application pass realizes all of them) — round count ≪ merge
  * count, the batching every production BPE trainer ships.
  *
  * Determinism (hash-gate parity with DuckDB): counts are exact longs;
  * the winner is (cnt DESC, a, b) with binary-UTF8 string order on
  * both engines; the merge application is pure string surgery both
  * engines replay identically — double every separator, replace the
  * space-delimited pair pattern (doubling gives each adjacency its OWN
  * delimiters, so `replace`'s non-overlapping left-to-right scan
  * merges "a b a b" twice instead of losing the second pair to a
  * shared space — and left-to-right non-overlap IS the BPE greedy
  * order), then collapse runs of spaces. Merging never collides
  * distinct vocabulary entries: the symbol-string's concatenation is
  * the original word, which merges preserve.
  *
  * In: documents with `textCol`. Out: (step, a, b, cnt) — the merge
  * learned at each round, 1-based.
  */
object BpeTrain {

  def train(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainLoop(docs, textCol, nMerges)._1.toDF("step", "a", "b", "cnt")
  }

  /** Tokenizer APPLICATION — the other half a tokenizer ships: learn
    * `nMerges` merges, segment every word into the learned subwords
    * (the evolved vocabulary IS the segmentation — merges applied in
    * training order), and emit the corpus subword-frequency table's
    * top `topK`. Map-side after the loop: the final vocabulary
    * explodes its symbol strings weighted by word frequency — still
    * vocabulary-sized, never the corpus.
    */
  def subwordCounts(docs: DataFrame, textCol: String, nMerges: Int,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    val vocab = trainLoop(docs, textCol, nMerges)._2
    vocab.select(explode(split(col("w"), " ")).as("token"), col("f"))
      .groupBy("token").agg(sum("f").as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK)
  }

  private def trainLoop(docs: DataFrame, textCol: String, nMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 1000, s"nMerges out of range: $nMerges")
    var vocab = initialVocab(docs, textCol)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .collect()
      require(top.nonEmpty,
        s"vocabulary exhausted at merge $step of $nMerges — every word " +
          "is a single symbol")
      val (a, b, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((step, a, b, cnt))
      // literal pair values ride as lit() columns — never parsed, so
      // symbols containing quotes/regex metacharacters are inert
      val doubled =
        concat(lit(" "), replace(col("w"), lit(" "), lit("  ")), lit(" "))
      val applied = replace(doubled,
        lit(s" $a  $b "), lit(s" $a$b "))
      vocab = vocab
        .select(trim(regexp_replace(applied, " +", " ")).as("w"), col("f"))
      // checkpoint every few rounds, not every round: the eager
      // per-round checkpoint was a whole extra Spark job per merge for
      // lineage the next rounds replay as a handful of vocab-sized
      // string projections anyway. Every CKPT_EVERY rounds the chain
      // truncates (plan depth and replay work stay bounded); between
      // checkpoints each winner-collect simply re-applies <= CKPT_EVERY
      // projections over the pinned vocabulary — map-side, tiny
      // against the per-job scheduling cost it replaces. The vocabulary
      // here is a projection of an already-checkpointed scan (no
      // exchange), so this `localCheckpoint(false)` runs no job: the
      // next winner collect persists it. A Dataset checkpoint is lazy
      // only for its final stage — under AQE it executes every exchange
      // of its plan at call time (see initialVocab; BpeTrainSpec pins
      // the job count).
      if (step % CKPT_EVERY == 0) vocab = vocab.localCheckpoint(false)
    }
    (merges.result(), vocab)
  }

  /** Lineage-truncation interval for the training loops. */
  private val CKPT_EVERY = 8

  /** BATCHED merge training — the 30k-50k-vocabulary path: each round
    * counts pairs ONCE over the current vocabulary, ranks them
    * (cnt DESC, a, b), and learns up to `batch` merges whose symbol
    * sets are mutually disjoint, applying them all in ONE pass (a
    * chain of `batch` nested replaces in a single projection —
    * disjoint merges commute, so one pass equals any sequential
    * order). Selection is the CONSERVATIVE disjoint rule over the
    * top-`window` ranked pairs: a pair is taken iff NO higher-ranked
    * WINDOW pair shares a symbol with it (conflict with a rejected
    * earlier pair still disqualifies) — deliberately non-iterative, so
    * the whole round is one relational expression both engines replay
    * identically; rank 1 is always taken, so every round makes
    * progress. The window bounds the driver's collect to `window`
    * rows per round.
    *
    * Out: (round, ord, a, b, cnt) — `ord` is the merge's 1-based rank
    * within its round; application order within a round follows `ord`
    * (irrelevant semantically — they commute — but deterministic).
    */
  def trainBatched(docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, window: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    batchedLoop(docs, textCol, rounds, batch, window)._1
      .toDF("round", "ord", "a", "b", "cnt")
  }

  /** [[subwordCounts]] for the batched trainer: segment by the
    * batched-learned merges and rank the corpus subword frequencies —
    * the application half of the 30k-50k-vocabulary path.
    */
  def subwordCountsBatched(docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, topK: Int, window: Int = 0): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    val vocab = batchedLoop(docs, textCol, rounds, batch, window)._2
    vocab.select(explode(split(col("w"), " ")).as("token"), col("f"))
      .groupBy("token").agg(sum("f").as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK)
  }

  private def batchedLoop(docs: DataFrame, textCol: String, rounds: Int,
      batch: Int, window: Int)
      : (Seq[(Int, Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 10000, s"rounds out of range: $rounds")
    require(batch >= 1 && batch <= 4096, s"batch out of range: $batch")
    val w0 = if (window <= 0) batch * 8 else window
    require(w0 >= batch, s"window=$w0 < batch=$batch")
    var vocab = initialVocab(docs, textCol)
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(w0)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      require(top.nonEmpty,
        s"vocabulary exhausted at round $round of $rounds — every word " +
          "is a single symbol")
      val selected = top.zipWithIndex.collect {
        case ((a, b, cnt), idx) if !top.take(idx).exists { case (c, d, _) =>
          // interacting = sharing an input symbol, OR one merge's
          // OUTPUT being the other's input (an output feeding a
          // same-round input would let the single chained pass merge
          // adjacencies the counts never saw, breaking commutation --
          // unreachable for global greedy BPE as far as we can prove,
          // but the guard costs nothing and makes the claim
          // unconditional)
          c == a || c == b || d == a || d == b ||
            c + d == a || c + d == b || a + b == c || a + b == d
        } => (a, b, cnt)
      }.take(batch)
      selected.zipWithIndex.foreach { case ((a, b, cnt), j) =>
        merges += ((round, j + 1, a, b, cnt))
      }
      val doubled =
        concat(lit(" "), replace(col("w"), lit(" "), lit("  ")), lit(" "))
      val applied = selected.foldLeft(doubled) { case (acc, (a, b, _)) =>
        replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
      }
      vocab = vocab
        .select(trim(regexp_replace(applied, " +", " ")).as("w"), col("f"))
      // same interval checkpointing as trainLoop (over a projection,
      // so it runs no job of its own); a batched round's replay is one
      // projection of `batch` nested replaces
      if (round % CKPT_EVERY == 0) vocab = vocab.localCheckpoint(false)
    }
    (merges.result(), vocab)
  }

  /** One corpus scan: word frequencies as space-separated
    * character-symbol strings — the round-0 vocabulary both trainers
    * start from.
    */
  private def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("w"),
        col("f"))
      // NOT free: under AQE a Dataset `localCheckpoint(false)` runs
      // the word-frequency exchange as a job at call time; only the
      // final stage's blocks wait for round 1's winner collect
      // (BpeTrainSpec pins the count)
      .localCheckpoint(false)

  /** Adjacent-symbol pair counts over the current vocabulary —
    * frequency-weighted, vocabulary-sized.
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("f"), split(col("w"), " ").as("sy"))
      .filter(size(col("sy")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> struct(sy[i-1] AS a, sy[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("f").as("cnt"))

  /** The DuckDB replay of [[train]] for a FIXED merge count: one CTE
    * chain per round (pairs → winner → applied vocabulary), the same
    * double-space merge surgery, winners unioned in step order. The
    * winner is recomputed relationally each round — nothing from the
    * engine's run is embedded, so the hash gate proves both engines
    * learn the same merges.
    */
  def oracleSql(nMerges: Int): String = {
    val init =
      """v0 AS (
        |  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w, f
        |  FROM (
        |    SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |      SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents) t
        |    WHERE length(word) > 0 GROUP BY word) wf)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      val p = i - 1
      s"""p$i AS (
         |  SELECT sy[CAST(j AS INT)] AS a, sy[CAST(j AS INT) + 1] AS b, f
         |  FROM (SELECT string_split(w, ' ') AS sy, f FROM v$p) t,
         |       unnest(generate_series(1, len(sy) - 1)) AS g(j)
         |  WHERE len(sy) >= 2),
         |w$i AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt FROM p$i
         |  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         |v$i AS (
         |  SELECT trim(regexp_replace(
         |    replace(' ' || replace(v.w, ' ', '  ') || ' ',
         |            ' ' || w$i.a || '  ' || w$i.b || ' ',
         |            ' ' || w$i.a || w$i.b || ' '),
         |    ' +', ' ', 'g')) AS w, v.f
         |  FROM v$p v, w$i)""".stripMargin
    }
    val out = (1 to nMerges)
      .map(i => s"SELECT CAST($i AS INTEGER) AS step, a, b, cnt FROM w$i")
      .mkString("\nUNION ALL\n")
    s"WITH $init,\n${rounds.mkString(",\n")}\n$out\nORDER BY step"
  }

  /** The [[trainBatched]] replay: per round — the ranked window, the
    * same conservative disjoint selection (NOT EXISTS against every
    * higher-ranked window pair), then ONE `list_reduce` applying the
    * whole batch to the vocabulary. Merges ride the fold as
    * `"a b"`-encoded strings: symbols can never contain a space (the
    * vocabulary splits on it), so the delimiter is collision-free.
    * Nothing from the engine's run is embedded — the hash gate proves
    * both engines learn the same batches.
    */
  def batchedOracleSql(rounds: Int, batch: Int, window: Int = 0): String = {
    val w0 = if (window <= 0) batch * 8 else window
    val init =
      """v0 AS (
        |  SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w, f
        |  FROM (
        |    SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |      SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents) t
        |    WHERE length(word) > 0 GROUP BY word) wf)""".stripMargin
    val rs = (1 to rounds).map { i =>
      val p = i - 1
      s"""t$i AS (
         |  SELECT a, b, cnt, rn FROM (
         |    SELECT a, b, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, a, b) AS rn FROM (
         |      SELECT sy[CAST(j AS INT)] AS a, sy[CAST(j AS INT) + 1] AS b,
         |             CAST(SUM(f) AS BIGINT) AS cnt
         |      FROM (SELECT string_split(w, ' ') AS sy, f FROM v$p) t,
         |           unnest(generate_series(1, len(sy) - 1)) AS g(j)
         |      WHERE len(sy) >= 2 GROUP BY 1, 2) cg) rg
         |  WHERE rn <= $w0),
         |m$i AS (
         |  SELECT a, b, cnt, ord FROM (
         |    SELECT a, b, cnt,
         |    CAST(row_number() OVER (ORDER BY rn) AS INTEGER) AS ord
         |    FROM t$i p WHERE NOT EXISTS (
         |      SELECT 1 FROM t$i q WHERE q.rn < p.rn AND
         |        (q.a = p.a OR q.a = p.b OR q.b = p.a OR q.b = p.b
         |         OR q.a || q.b = p.a OR q.a || q.b = p.b
         |         OR p.a || p.b = q.a OR p.a || p.b = q.b))) s
         |  WHERE ord <= $batch),
         |ml$i AS (SELECT list(a || ' ' || b ORDER BY ord) AS ms FROM m$i),
         |v$i AS (
         |  SELECT trim(regexp_replace(
         |    list_reduce(
         |      list_prepend(' ' || replace(v.w, ' ', '  ') || ' ', ml.ms),
         |      (acc, x) -> replace(acc,
         |        ' ' || split_part(x, ' ', 1) || '  ' ||
         |          split_part(x, ' ', 2) || ' ',
         |        ' ' || split_part(x, ' ', 1) ||
         |          split_part(x, ' ', 2) || ' ')),
         |    ' +', ' ', 'g')) AS w, v.f
         |  FROM v$p v, ml$i ml)""".stripMargin
    }
    val out = (1 to rounds)
      .map(i => s"SELECT CAST($i AS INTEGER) AS round, ord, a, b, cnt " +
        s"FROM m$i")
      .mkString("\nUNION ALL\n")
    s"WITH $init,\n${rs.mkString(",\n")}\n$out\nORDER BY round, ord"
  }

  /** The [[subwordCountsBatched]] replay: the batched per-round CTE
    * chain, then the final vocabulary's symbols exploded and
    * frequency-weighted.
    */
  def batchedEncodeOracleSql(rounds: Int, batch: Int, topK: Int,
      window: Int = 0): String = {
    val base = batchedOracleSql(rounds, batch, window)
    val cut = base.lastIndexOf("\nSELECT CAST(1 AS INTEGER) AS round")
    require(cut > 0, "batched oracle chain anchor missing")
    base.substring(0, cut) +
      s"""
         |SELECT token, CAST(SUM(f) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split(w, ' ')) AS token, f
         |  FROM v$rounds) t
         |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin
  }

  /** The [[subwordCounts]] replay: the same per-round CTE chain, then
    * the final vocabulary's symbols exploded and frequency-weighted.
    */
  def encodeOracleSql(nMerges: Int, topK: Int): String = {
    val base = oracleSql(nMerges)
    val cut = base.lastIndexOf("\nSELECT CAST(1 AS INTEGER) AS step")
    require(cut > 0, "oracle chain anchor missing")
    base.substring(0, cut) +
      s"""
         |SELECT token, CAST(SUM(f) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split(w, ' ')) AS token, f
         |  FROM v$nMerges) t
         |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin
  }
}
