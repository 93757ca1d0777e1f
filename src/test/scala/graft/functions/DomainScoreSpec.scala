package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DomainScoreSpec extends SparkTestBase {

  private val classes = Seq(("web", 7L, 13L), ("news", 11L, 97L),
    ("code", 17L, 31L), ("wiki", 23L, 5L))

  /** The composable greatest-of-folds form DomainScore replaces. */
  private def reference = {
    val fs = transform(col("w"), t =>
      conv(substring(md5(t.cast("binary")), 1, 2), 16, 10).cast("long"))
    def score(p: Long, q: Long) =
      aggregate(fs, lit(0L), (acc, f) =>
        acc + (pmod(f * p + q, lit(1001L)) - 500L))
    greatest(classes.map { case (c, p, q) =>
      struct(score(p, q).as("score"), lit(c).as("cls")) }: _*)
  }

  test("one-pass expression equals the greatest-of-aggregate-folds form") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Seq("spark", "join", "scan", "the", "a", "批", "流",
      "données", "x1", "")
    val rows = Seq.fill(400)(
      Seq.fill(rnd.nextInt(50) + 1)(vocab(rnd.nextInt(vocab.length))))
    val df = rows.toDF("w")
    val got = df.select(DomainScore.domain_score(col("w"), classes).as("m"))
      .select(col("m.score"), col("m.cls"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = df.select(reference.as("m"))
      .select(col("m.score"), col("m.cls"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
  }

  test("empty token array: score 0, binary-largest class (greatest tie rule)") {
    import spark.implicits._
    val out = Seq(Seq.empty[String]).toDF("w")
      .select(DomainScore.domain_score(col("w"), classes).as("m"))
      .select(col("m.score"), col("m.cls")).collect().head
    assert(out.getLong(0) == 0L && out.getString(1) == "wiki")
  }

  test("negative class weights are rejected at construction") {
    for (bad <- Seq(("web", -1L, 13L), ("web", 7L, -13L))) {
      val e = intercept[IllegalArgumentException] {
        DomainScore.domain_score(col("w"), classes :+ bad)
      }
      assert(e.getMessage.contains("non-negative"))
    }
  }
}
