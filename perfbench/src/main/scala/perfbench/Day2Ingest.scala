package perfbench

import scala.jdk.CollectionConverters._
import graft.ops.{Dedup, Similarity}
import graft.readers.{DeltaReader, DeltaWriter, IcebergReader, IcebergWriter}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class TextRow(id: Long, text: String)
final case class VecRow(id: Long, v: IndexedSeq[Float])

/** One seeded micro-batch and the survivor counts its construction
  * implies: fresh rows never match anything, while every near-duplicate
  * sits far above the probe thresholds (one appended word on ~25
  * shingles, or ~0.995 cosine), so the expected outcome does not depend
  * on LSH luck.
  */
final case class IngestBatch(step: Int, text: IndexedSeq[TextRow], vecs: IndexedSeq[VecRow],
    textSurvivors: Int, vecSurvivors: Int, fresh: IndexedSeq[String], freshVecs: IndexedSeq[IndexedSeq[Float]]) {
  def render: String =
    (text.map(r => s"t${r.id}:${r.text}") ++ vecs.map(r => s"v${r.id}:${r.v.mkString(",")}")).mkString("\n")
  def inputBytes: Long =
    text.map(r => 8L + r.text.getBytes("UTF-8").length).sum + vecs.map(r => 8L + 4L * r.v.size).sum
}

object IngestBatch {
  val textRows = 60
  val textHistDups = 15
  val textSelfDups = 9
  val vecRows = 60
  val vecHistDups = 12
  val vecSelfDups = 6
  val dim = 64
  private val vocab = 2000

  /** Words of the fresh vocabulary: disjoint from the history corpus's. */
  def word(i: Int): String = s"zq${i}x"

  /** Batch `step`: `history`/`historyVecs` are the base corpus; `prior`
    * and `priorVecs` the fresh rows of earlier steps (now in the index),
    * which near-duplicates also draw from. */
  def generate(seed: Long, step: Int, history: IndexedSeq[String], prior: IndexedSeq[String],
      historyVecs: IndexedSeq[IndexedSeq[Float]], priorVecs: IndexedSeq[IndexedSeq[Float]]): IngestBatch = {
    val rnd = new scala.util.Random(seed * 1000003L + step)
    def extra(): String = word(rnd.nextInt(vocab))
    def pickFrom(a: IndexedSeq[String], b: IndexedSeq[String]): String =
      if (b.nonEmpty && rnd.nextBoolean()) b(rnd.nextInt(b.size)) else a(rnd.nextInt(a.size))
    val nFresh = textRows - textHistDups - textSelfDups
    val fresh = IndexedSeq.fill(nFresh)(IndexedSeq.fill(24)(extra()).mkString(" "))
    val histDups = IndexedSeq.fill(textHistDups)(pickFrom(history, prior) + " " + extra())
    val selfDups = IndexedSeq.fill(textSelfDups)(fresh(rnd.nextInt(nFresh)) + " " + extra())
    val texts = rnd.shuffle(fresh ++ histDups ++ selfDups)
    val base = 1000000000L + step * 1000L

    def unit(v: IndexedSeq[Double]): IndexedSeq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def noisy(v: IndexedSeq[Float]): IndexedSeq[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val noise = IndexedSeq.fill(dim)(rnd.nextGaussian())
      val nn = math.sqrt(noise.map(x => x * x).sum)
      unit(v.indices.map(i => v(i) / norm + 0.1 * noise(i) / nn))
    }
    val nFreshV = vecRows - vecHistDups - vecSelfDups
    val freshV = IndexedSeq.fill(nFreshV)(unit(IndexedSeq.fill(dim)(rnd.nextGaussian())))
    val histV = IndexedSeq.fill(vecHistDups) {
      noisy(if (priorVecs.nonEmpty && rnd.nextBoolean()) priorVecs(rnd.nextInt(priorVecs.size))
            else historyVecs(rnd.nextInt(historyVecs.size)))
    }
    val selfV = IndexedSeq.fill(vecSelfDups)(noisy(freshV(rnd.nextInt(nFreshV))))
    val vecs = rnd.shuffle(freshV ++ histV ++ selfV)
    IngestBatch(step,
      texts.zipWithIndex.map { case (t, i) => TextRow(base + i, t) },
      vecs.zipWithIndex.map { case (v, i) => VecRow(base + i, v) },
      // the within-batch pass keeps one row of each fresh/self-dup cluster;
      // the vector probe has no within-batch pass, so its self-dups survive
      textSurvivors = nFresh, vecSurvivors = nFreshV + vecSelfDups,
      fresh = fresh, freshVecs = freshV)
  }
}

/** The write path, one step at a time: each step probes a seeded
  * micro-batch against the persisted text and vector indexes, appends
  * the survivors to a Delta and an Iceberg table and to both indexes,
  * compacts both tables and both indexes, and reads both tables back.
  * Steps run strictly in order: step n+1 probes an index that already
  * holds step n's survivors. Set-up builds both indexes and runs step 0
  * as the warm-up, which creates both tables; the timed window starts at
  * step 1, on a batch the warm-up never saw. A window of one step is all
  * the run budget holds, so every step compacts.
  */
object Day2Ingest extends Workload {
  val name = "day2_ingest"
  val cosineThreshold = 0.9

  private var history: IndexedSeq[String] = IndexedSeq.empty
  private var historyVecs: IndexedSeq[IndexedSeq[Float]] = IndexedSeq.empty
  private val prior = scala.collection.mutable.ArrayBuffer.empty[String]
  private val priorVecs = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Float]]
  private var step = 0
  private var textTotal = 0L
  private var vecTotal = 0L
  private var inputBytesAll = 0L
  private var inputBytesTimed = 0L
  private var bytesWrittenAtStart = 0L
  private var bytesWrittenAtEnd = 0L
  private var storedAtSetup = 0L
  private var historyRows = 0L
  private var historyVecRows = 0L

  private def dir(h: Harness, n: String): String = h.work.resolve("day2").resolve(n).toString
  private def deltaPath(h: Harness) = dir(h, "docs_delta")
  private def icebergPath(h: Harness) = dir(h, "vecs_iceberg")
  private def textIndex(h: Harness) = dir(h, "text_index")
  private def vecIndex(h: Harness) = dir(h, "vec_index")

  private val textSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def textFrame(s: SparkSession, rows: Seq[TextRow]): DataFrame =
    s.createDataFrame(rows.map(r => Row(r.id, r.text)).asJava, textSchema)
  private def vecFrame(s: SparkSession, rows: Seq[VecRow]): DataFrame =
    s.createDataFrame(rows.map(r => Row(r.id, r.v)).asJava, vecSchema)

  def bytesWritten(): Long = FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  def setup(h: Harness): Unit = {
    val t0 = System.nanoTime()
    val spark = h.spark
    val docs = spark.read.parquet(h.data.resolve("history").resolve("documents.parquet").toString)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
    val emb = spark.read.parquet(h.data.resolve("history").resolve("embeddings.parquet").toString)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
    history = docs.collect().map(_.getString(1)).toIndexedSeq
    historyVecs = emb.collect().map(_.getSeq[Float](1).toIndexedSeq).toIndexedSeq
    historyRows = history.size
    historyVecRows = historyVecs.size
    System.err.println(f"[perfbench] history read at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    h.parallelParts(
      Dedup.writeSignatureIndex(docs, "doc_id", "text", textIndex(h)),
      Similarity.writeVectorIndex(emb, "vec_id", "embedding", vecIndex(h), dim = IngestBatch.dim))
    System.err.println(f"[perfbench] indexes built at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    storedAtSetup = Seq(textIndex(h), vecIndex(h)).map(p => CatalogOpen.du(java.nio.file.Paths.get(p))).sum
    h.inputs.put("history_docs", historyRows)
    h.inputs.put("history_vectors", historyVecRows)
    h.inputs.put("batch_text_rows", IngestBatch.textRows)
    h.inputs.put("batch_vector_rows", IngestBatch.vecRows)
    h.inputs.put("designed_text_dup_share", 1.0 - (IngestBatch.textRows - IngestBatch.textHistDups - IngestBatch.textSelfDups).toDouble / IngestBatch.textRows)
    h.inputs.put("designed_vector_dup_share", IngestBatch.vecHistDups.toDouble / IngestBatch.vecRows)
    // Warm-up: the whole of step 0, so the window's first step appends to
    // existing tables and probes indexes that already took an append.
    runStep(h)
    System.err.println(f"[perfbench] warm-up done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def measure(h: Harness, seconds: Double): Unit = {
    bytesWrittenAtStart = bytesWritten()
    val t0 = System.nanoTime()
    do runStep(h) while ((System.nanoTime() - t0) / 1e9 < seconds)
    bytesWrittenAtEnd = bytesWritten()
  }

  private def runStep(h: Harness): Unit = {
    val tr = h.tracer
    val b = batch(h, step)
    step += 1
    inputBytesAll += b.inputBytes
    if (h.timed) inputBytesTimed += b.inputBytes
    h.op("ingest_step") {
      // The text and vector sides touch disjoint tables and indexes, so
      // the step runs them side by side, as an ingest pipeline would.
      val ((textOk, textSurvivors, deltaRows), (vecOk, vecSurvivors, iceRows, liveFiles)) =
        h.parallelParts(textSide(h, b), vectorSide(h, b))
      tr.sample("readers.live_files", liveFiles.toDouble)
      textTotal += textSurvivors
      vecTotal += vecSurvivors
      prior ++= b.fresh
      priorVecs ++= b.freshVecs
      Outcome.check(textOk && vecOk && deltaRows == textTotal && iceRows == vecTotal)
    }
  }

  private def batch(h: Harness, step: Int): IngestBatch =
    IngestBatch.generate(h.seed, step, history, prior.toIndexedSeq, historyVecs, priorVecs.toIndexedSeq)

  /** The batch's text rows that survive the index probe and the
    * within-batch pass. */
  private def textProbe(h: Harness, b: IngestBatch): Seq[TextRow] = h.tracer.span("ops.text_probe") {
    val df = Dedup.incrementalDedupAgainstIndex(textFrame(h.spark, b.text), "doc_id", "text", textIndex(h))
    Plans.planned(df.select(col("doc_id"), col("text")), h.tracer).collect()
      .map(r => TextRow(r.getLong(0), r.getString(1))).toSeq
  }

  /** The batch's vectors with no index row at or above the threshold. */
  private def vectorProbe(h: Harness, b: IngestBatch): Seq[VecRow] = h.tracer.span("ops.vector_probe") {
    val pairs = Similarity.incrementalCosineAgainstIndex(vecFrame(h.spark, b.vecs), "vec_id", "embedding",
      vecIndex(h), threshold = cosineThreshold, dim = IngestBatch.dim)
    val dropped = Plans.planned(pairs.select(col("new_id")).distinct(), h.tracer).collect().map(_.getLong(0)).toSet
    b.vecs.filterNot(r => dropped.contains(r.id))
  }

  /** Probe, append, index, compact, read back: (checks passed,
    * survivors, Delta rows after the step). */
  private def textSide(h: Harness, b: IngestBatch): (Boolean, Int, Long) = {
    val spark = h.spark
    val tr = h.tracer
    val survivors = textProbe(h, b)
    tr.sample("ops.text_dup_share", 1.0 - survivors.size.toDouble / b.text.size)
    val survivorsDf = textFrame(spark, survivors)
    tr.span("readers.delta_append")(DeltaWriter.write(spark, survivorsDf, deltaPath(h), mode = "append"))
    tr.span("ops.text_index_append")(Dedup.appendToSignatureIndex(survivorsDf, "doc_id", "text", textIndex(h)))
    tr.span("readers.delta_compact")(DeltaWriter.compact(spark, deltaPath(h)))
    val c = tr.span("ops.text_index_compact")(Dedup.compactSignatureIndex(spark, textIndex(h)))
    val rows = tr.span("readers.delta_scan") {
      Plans.planned(DeltaReader.read(spark, deltaPath(h)).agg(count(lit(1))), tr).collect().head.getLong(0)
    }
    (survivors.size == b.textSurvivors && c.rowsAfter == c.rowsBefore, survivors.size, rows)
  }

  /** Probe, append, index, compact, read back: (checks passed,
    * survivors, Iceberg rows after the step, live files of both tables). */
  private def vectorSide(h: Harness, b: IngestBatch): (Boolean, Int, Long, Int) = {
    val spark = h.spark
    val tr = h.tracer
    val survivors = vectorProbe(h, b)
    val dropped = b.vecs.size - survivors.size
    tr.sample("ops.vector_dup_share", dropped.toDouble / b.vecs.size)
    val vecDf = vecFrame(spark, survivors)
    tr.span("readers.iceberg_append")(IcebergWriter.write(spark, vecDf, icebergPath(h), mode = "append"))
    tr.span("ops.vector_index_append")(Similarity.appendToVectorIndex(vecDf, "vec_id", "embedding",
      vecIndex(h), dim = IngestBatch.dim))
    tr.span("readers.iceberg_compact")(IcebergWriter.compact(spark, icebergPath(h)))
    val c = tr.span("ops.vector_index_compact")(Similarity.compactVectorIndex(spark, vecIndex(h)))
    val (rows, files) = tr.span("readers.iceberg_scan") {
      val df = IcebergReader.read(spark, icebergPath(h))
      (Plans.planned(df.agg(count(lit(1))), tr).collect().head.getLong(0), df.inputFiles.length)
    }
    val deltaFiles = DeltaReader.read(spark, deltaPath(h)).inputFiles.length
    (survivors.size == b.vecSurvivors && c.rowsAfter == c.rowsBefore, survivors.size, rows, files + deltaFiles)
  }

  override def finish(h: Harness): Unit = {
    val spark = h.spark
    val textIdx = spark.read.parquet(textIndex(h)).count()
    val vecIdx = spark.read.parquet(vecIndex(h)).count()
    h.check("final_text_index_rows", textIdx == historyRows + textTotal, s"$textIdx vs ${historyRows + textTotal}")
    h.check("final_vector_index_rows", vecIdx == historyVecRows + vecTotal, s"$vecIdx vs ${historyVecRows + vecTotal}")
    h.inputs.put("steps", step)
    h.inputs.put("ingested_input_bytes", inputBytesAll)
    h.inputs.put("delta_rows", textTotal)
    h.inputs.put("iceberg_rows", vecTotal)
  }

  override def extraEndToEnd(h: Harness, timedOps: Seq[OpRecord]): Map[String, Double] = {
    val stored = Seq(deltaPath(h), icebergPath(h), textIndex(h), vecIndex(h))
      .map(p => CatalogOpen.du(java.nio.file.Paths.get(p))).sum - storedAtSetup
    Map(
      "stored_bytes_per_input_byte" -> stored.toDouble / inputBytesAll,
      "written_bytes_per_input_byte" -> (bytesWrittenAtEnd - bytesWrittenAtStart).toDouble / inputBytesTimed)
  }
}
