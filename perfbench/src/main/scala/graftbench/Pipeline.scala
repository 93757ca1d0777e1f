package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `pipeline`: training-data pipeline queries from `SparkEntry.queries`
  * over seeded documents and embeddings. Each op builds the query's
  * DataFrame and folds a hash over every output column; the fold is
  * checked against the same fold of DuckDB's answer to
  * `SparkEntry.oracleSql` on the same input files.
  */
final class Pipeline(ctx: Ctx) extends Workload {
  import ctx.spark

  private val folds = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Fingerprint)]

  val warmPasses = 1

  def prepare(): Unit = ()

  def inputs: Map[String, Any] = {
    def rows(t: String) = spark.read.parquet(s"${ctx.dataDir}/$t.parquet").count()
    val bytes = new java.io.File(ctx.dataDir).listFiles().filter(_.isFile)
      .map(_.length()).sum
    Map("documents" -> rows("documents"), "embeddings" -> rows("embeddings"),
      "bytes_on_disk" -> bytes)
  }

  /** DuckDB's answers are folded only once the timed passes are over, so
    * that this Spark work does not warm the JVM for the warm pass.
    */
  def expect(): Unit = ()

  def ops: Seq[Op] = Pipeline.Ops.map(n => Op(n, () => {
    val df = ctx.build(n)(SparkEntry.queries(n)(spark, ctx.dataDir))
    val fp = ctx.action("fold")(Fingerprint.of(df))
    folds += ((ctx.rec.pass, n, if (ctx.injectWrong(n)) fp.copy(rows = -1) else fp))
  }))

  override def finish(): Seq[String] = {
    val want = Pipeline.Ops.flatMap { n =>
      val p = new java.io.File(s"${ctx.cacheDir}/$n.parquet")
      if (p.exists) Some(n -> Fingerprint.of(spark.read.parquet(p.getPath)))
      else None
    }.toMap
    folds.toSeq.collect {
      case (p, n, fp) if !want.get(n).contains(fp) =>
        s"pass $p: $n: fingerprint $fp, expected " +
          want.get(n).map(_.toString).getOrElse("an oracle answer (none found)")
    }
  }
}

object Pipeline {
  val Ops: Seq[String] = Seq("ngram_dup_spans", "pagerank_neardup",
    "label_propagation", "bpe_train", "dsir_resample")
}

/** Order-independent hash of a result's rows: row count plus two sums of
  * 32-bit halves of `xxhash64` over every column. Columns are taken in
  * name order and numbers compared as doubles, so the engines' integer
  * widths and column orders do not matter; values must match exactly.
  */
final case class Fingerprint(rows: Long, lo: Long, hi: Long)

object Fingerprint {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => c.cast(DoubleType)
    case BooleanType | StringType | BinaryType => c
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq
      .map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Fingerprint(l(0), l(1), l(2))
  }
}
