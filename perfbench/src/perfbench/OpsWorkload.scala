package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** One query's result as the output check sees it: the row count and an
  * order-independent digest (the sum of per-row hashes, with floating
  * values rounded so aggregation order cannot change them). */
final case class Answer(rows: Long, digest: String)

object OpsWorkload {
  /** The swept queries, one per operator module, and their modules. */
  val modules: Seq[(String, String)] = Seq(
    "q_minhash_neardup" -> "Dedup",
    "q_cosine_neardup" -> "Similarity",
    "q_phash_neardup" -> "Multimodal",
    "q_pack_windows" -> "TextOps",
    "q_tfidf_terms" -> "Search",
    "q_pq_codes" -> "Quantization",
    "q_countmin" -> "Sketches",
    "q_stratified_sample" -> "Sampling",
    "q_budget_admission" -> "Relational",
    "q_textrank" -> "Ranking",
    "q_curate" -> "Curation",
    "q_audio_features" -> "Audio",
    "q_sessionize" -> "EventStream")

  val moduleNames: Seq[String] = modules.map(_._2).distinct

  val dataDir: Path = Paths.get("perfbench/data/sf0.001")
  val expectedFile: Path = Paths.get("perfbench/expected/ops_sf0.001.tsv")

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(et, _) => transform(c, x => stable(x, et))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => stable(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def answer(df: DataFrame): Answer = {
    val cols = df.schema.fields.toIndexedSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    Answer(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(): Map[String, Answer] =
    if (!Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> Answer(rows.toLong, digest)
    }.toMap
}

/** The operator sweep: each query of [[OpsWorkload.modules]] once per
  * pass, in an order the seed shuffles, with a `count()` sink and the
  * cache cleared between queries (as `graft.Bench` does). */
final class OpsWorkload(spark: SparkSession, val seed: Long, toy: Boolean, plantWrong: Boolean) {
  import OpsWorkload._

  private val fns = SparkEntry.queries
  /** Sweep order; `toy` keeps three queries for the smoke test. */
  val order: Seq[(String, String)] = new scala.util.Random(seed).shuffle(modules).take(if (toy) 3 else modules.size)
  private val dir = dataDir.toAbsolutePath.toString

  private val expected: Map[String, Answer] = readExpected().map { case (q, a) =>
    q -> (if (plantWrong) a.copy(rows = a.rows + 1) else a)
  }

  /** Wall seconds of one query, or an error. */
  def timeQuery(name: String): Either[String, (Long, Double)] =
    try {
      spark.catalog.clearCache()
      val fn = fns.getOrElse(name, throw new NoSuchElementException(s"no declared query $name"))
      val (rows, secs) = Runtime.time(fn(spark, dir).count())
      Right((rows, secs))
    } catch { case t: Throwable => Left(s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}") }

  /** Full answer of a query, for the output check (never timed). */
  def answerOf(name: String): Either[String, Answer] =
    try { spark.catalog.clearCache(); Right(answer(fns(name)(spark, dir))) }
    catch { case t: Throwable => Left(s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}") }

  /** Compare a query's answer (or its row count alone) with the pin. */
  def verify(name: String, got: Either[String, Answer], rowsOnly: Boolean): Option[String] =
    got match {
      case Left(err) => Some(err)
      case Right(a) => expected.get(name) match {
        case None => Some(s"$name: no pinned answer")
        case Some(e) if a.rows != e.rows => Some(s"$name: ${a.rows} rows vs ${e.rows} pinned")
        case Some(e) if !rowsOnly && a.digest != e.digest => Some(s"$name: digest differs from the pin")
        case _ => None
      }
    }
}
