package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.CompatIo
import graft.operators.{Curate, Dedup, Sampling, TextStats, TfIdfOps, WikiText}

/** What one pass hands back: counts the listener cannot see (bytes and
  * files written). */
final case class PassOut(counts: Map[String, Double])

/** One benchmark workload. `pass` runs the measured work once over the
  * generated input; a traced pass runs the same calls one layer at a
  * time, each inside a span whose output is persisted and counted, so
  * the listener can attribute every job to the layer that caused it. */
trait Workload {
  /** The untimed pass of each set-up: the same calls over the same input. */
  def warm(spark: SparkSession): Unit
  def pass(spark: SparkSession, rec: Recorder, i: Int,
           traced: Boolean): PassOut
  /** A fingerprint of the last pass's output, taken after its timing
    * ends; it must be the same on every pass of a run. */
  def fingerprint(spark: SparkSession): String
  /** Write the last pass's outputs where the checker reads them. */
  def exportForCheck(spark: SparkSession, dir: String): Unit
  /** Layer ratios measured once per run, outside any timed pass. */
  def ratios(spark: SparkSession): Map[String, Double]
}

object Workload {
  def apply(name: String, in: String, out: String): Workload = name match {
    case "dump_tfidf" => new DumpTfidf(in, out)
    case "curate_corpus" => new CurateCorpus(in, out)
    case other =>
      throw new IllegalArgumentException(s"unknown workload $other")
  }

  def persistCount(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** Order-independent hash of a frame's rows. */
  def rowsHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_"))
  }

  /** The repo's DuckDB twins of `names`, as `tools/check_oracle.py`
    * reads them. */
  def oracleJson(dir: String, names: Seq[String]): Unit =
    writeText(s"$dir/oracle_sql.json", names.map { n =>
      val sql = SparkEntry.oracleSql(n)
        .replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s""""$n": "$sql""""
    }.mkString("{", ", ", "}"))

  def writeText(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }
}

import Workload._

/** The paper's Task 3 and Task 1 over a raw wikiextractor dump. */
final class DumpTfidf(in: String, out: String) extends Workload {
  private val Cols = Seq("doc_id", "word", "cnt", "tf", "tf_idf")
  private val csvDir = s"$out/tfidf_csv"
  private val dictDir = s"$out/dictionary"

  private def readCsv(spark: SparkSession): DataFrame =
    CompatIo.readRefCsv(spark, csvDir, Seq("doc_id" -> "string",
      "word" -> "string", "cnt" -> "bigint", "tf" -> "double",
      "tf_idf" -> "double"))

  private def run(spark: SparkSession, dump: String): Unit = {
    val docs = WikiText.parse(spark.read.text(dump))
    CompatIo.writeRefCsv(TfIdfOps.tfIdfPipeline(docs, textCol = "body"),
      Cols, csvDir)
    TfIdfOps.dictionary(docs, textCol = "body").write.mode("overwrite")
      .parquet(dictDir)
  }

  def warm(spark: SparkSession): Unit = run(spark, s"$in/dump")

  def pass(spark: SparkSession, rec: Recorder, i: Int,
           traced: Boolean): PassOut = {
    if (!traced) run(spark, s"$in/dump")
    else {
      val docs = rec.span(i, "WikiText.parse") {
        persistCount(WikiText.parse(spark.read.text(s"$in/dump")))
      }
      rec.span(i, "WikiText.tokens") {
        WikiText.tokens(docs, textCol = "body").count()
      }
      val tfIdf = rec.span(i, "TfIdfOps.tfIdfPipeline") {
        val tf = rec.span(i, "TfIdfOps.tf") {
          persistCount(TfIdfOps.tf(docs, textCol = "body"))
        }
        val idf = rec.span(i, "TfIdfOps.idf") {
          persistCount(TfIdfOps.idf(tf,
            TfIdfOps.corpusSize(docs.select(col("doc_id")))))
        }
        rec.span(i, "TfIdfOps.tfIdf") {
          persistCount(TfIdfOps.tfIdf(tf, idf))
        }
      }
      rec.span(i, "CompatIo.writeRefCsv") {
        CompatIo.writeRefCsv(tfIdf, Cols, csvDir)
      }
      rec.span(i, "TfIdfOps.dictionary") {
        TfIdfOps.dictionary(docs, textCol = "body").write.mode("overwrite")
          .parquet(dictDir)
      }
    }
    val csvFiles = files(csvDir)
    PassOut(Map(
      "CompatIo.writeRefCsv.bytes_written" ->
        csvFiles.map(_.length).sum.toDouble,
      "CompatIo.writeRefCsv.files_written" -> csvFiles.size.toDouble))
  }

  def fingerprint(spark: SparkSession): String =
    rowsHash(readCsv(spark)) + "|" + rowsHash(spark.read.parquet(dictDir))

  def ratios(spark: SparkSession): Map[String, Double] = {
    val docs = WikiText.parse(spark.read.text(s"$in/dump"))
    val raw = docs.select(sum(size(split(col("body"), " ", -1)))).head()
      .getLong(0)
    Map("WikiText.tokens.keep_ratio" ->
      WikiText.tokens(docs, textCol = "body").count().toDouble / raw)
  }

  def exportForCheck(spark: SparkSession, dir: String): Unit = {
    readCsv(spark).write.parquet(s"$dir/q6_tfidf")
    spark.read.parquet(dictDir).write.parquet(s"$dir/q2_dictionary")
    oracleJson(dir, Seq("q6_tfidf", "q2_dictionary"))
    writeText(s"$dir/wiki_parse_scale.sql",
      SparkEntry.oracleSql("wiki_parse_scale"))
  }
}

/** The LLM-data curation pipeline: quality and language signals,
  * near-duplicate canonicalisation, hash sampling. */
final class CurateCorpus(in: String, out: String) extends Workload {
  private val resDir = s"$out/curated"

  def warm(spark: SparkSession): Unit =
    Curate.curate(spark.read.parquet(s"$in/docs")).write
      .mode("overwrite").parquet(resDir)

  def pass(spark: SparkSession, rec: Recorder, i: Int,
           traced: Boolean): PassOut = {
    val docs = spark.read.parquet(s"$in/docs")
    val curated =
      if (!traced) Curate.curate(docs)
      else rec.span(i, "Curate.curate") {
        // Curate.curate's own composition and defaults, one layer a span
        val sig = rec.span(i, "TextStats.signals") {
          persistCount(TextStats.signals(docs).select(col("doc_id"),
            col("n_tokens"), col("quality_score"), col("lang_pred")))
        }
        val canon = rec.span(i, "Dedup.assignCanonical") {
          persistCount(Dedup.assignCanonical(docs, 0.8))
        }
        val kept = persistCount(sig.join(canon, "doc_id")
          .filter(col("lang_pred") === "en" &&
            col("quality_score") >= 0.5 &&
            col("doc_id") === col("canonical_id")))
        rec.span(i, "Sampling.hashSample") {
          persistCount(Sampling.hashSample(kept, 0.5, "doc_id", "graft"))
        }.select("doc_id", "lang_pred", "n_tokens", "quality_score")
      }
    curated.write.mode("overwrite").parquet(resDir)
    PassOut(Map.empty)
  }

  def fingerprint(spark: SparkSession): String =
    rowsHash(spark.read.parquet(resDir))

  def ratios(spark: SparkSession): Map[String, Double] = {
    val canon = Dedup.assignCanonical(spark.read.parquet(s"$in/docs"), 0.8)
    val r = canon.agg(count(lit(1)),
      sum(when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L)))
      .head()
    Map("Dedup.assignCanonical.survivor_ratio" ->
      r.getLong(1).toDouble / r.getLong(0))
  }

  def exportForCheck(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(resDir).write.parquet(s"$dir/pipe_curate")
    oracleJson(dir, Seq("pipe_curate"))
  }
}
