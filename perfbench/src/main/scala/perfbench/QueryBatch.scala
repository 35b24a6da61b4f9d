package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive checksum of a query's full output: row count plus
  * the two 32-bit halves of xxhash64 summed over rows (two sums, so no
  * long overflow below 2^31 rows). Floating-point values enter the hash
  * as 9-significant-digit text, so summation-order noise in the last
  * bits of a double cannot flip it.
  */
object Checksum {
  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(_, _, _)       => true
    case _                      => false
  }

  def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if hasFloat(dt) =>
      struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType)): _*)
    df.select(h.as("_h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(col("_h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("_h"), 32)), lit(0L)).as("hi"))
  }

  /** (rows, hash) of a collected checksum frame. */
  def read(df: DataFrame): (Long, String) = {
    val r = df.collect().head
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}

/** The declared operator inventory (`SparkEntry.queries`) over the
  * committed sf0.01 tables, as a closed loop with one client per core.
  * Each pass submits every query of the batch once, in an order drawn
  * from the seed; the timed window runs whole passes until `seconds`
  * have passed, so every run measures the same mix. The first pass is
  * the session's first execution of each query, per-query codegen
  * included: a warm pass on top of it does not fit the run budget (see
  * README.md). The twenty-eight queries that cost most on their first
  * execution (`heavy`) are left out.
  */
object QueryBatch extends Workload {
  final case class Expected(rows: Long, hash: Option[String])

  val name = "query_batch"
  private var expected: Map[String, Expected] = Map.empty
  private var names: IndexedSeq[String] = IndexedSeq.empty
  private var pass = 1

  private def runPass(h: Harness): Unit = {
    val queue = new ConcurrentLinkedQueue[String](order(h.seed, pass, names).asJava)
    pass += 1
    val dir = tables(h)
    h.closedLoop(Main.nproc)(() => Option(queue.poll())) { q =>
      h.op("query") {
        val (rows, hash) = runQuery(h, q, dir)
        expected.get(q) match {
          case Some(e) => Outcome.check(e.rows == rows && e.hash.forall(_ == hash))
          case None    => Outcome.wrongOutput
        }
      }
    }
  }

  def setup(h: Harness): Unit = {
    expected = loadExpected(h.root)
    val all = SparkEntry.queries.keys.toIndexedSeq.sorted
    require(heavy.forall(all.contains), s"unknown heavy queries: ${heavy.filterNot(all.contains)}")
    names = all.filterNot(heavy.contains)
    h.inputs.put("queries", names.size)
    h.inputs.put("queries_left_out", heavy.mkString(","))
    h.inputs.put("tables", "perfbench/data/sf0.01")
    h.inputs.put("table_bytes", Files.list(h.data.resolve("sf0.01")).iterator().asScala.map(Files.size).sum)
    h.inputs.put("hash_checked_queries", names.count(q => expected.get(q).exists(_.hash.isDefined)))
    h.inputs.put("submission_order_pass1", order(h.seed, 1, names).take(5).mkString(",") + ",...")
  }

  def measure(h: Harness, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    do runPass(h) while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  /** The twenty-eight queries whose first execution took 1.2 s or more
    * in a four-client pass over sf0.01 when the benchmark was written
    * (together they are over half of the pass). They are left out of
    * `query_batch` to fit the run budget; the list is fixed so that the
    * batch stays the same when they get faster. Their incremental dedup
    * and similarity operators are measured by `day2_ingest`. */
  val heavy: Seq[String] = Seq(
    "q03_segment_top_revenue", "q05_nation_revenue", "q17_scalar_subquery", "q41_jaccard_pairs",
    "q42_minhash_lsh", "q50_embedding_neardup", "q51_lsh_knn", "q53_stream_tumbling_batch",
    "q54_stream_session_batch", "q57_salted_join", "q58_ivf_knn", "q63_neardup_clusters",
    "q75_embedding_outliers", "q76_cc_exact", "q77_decontaminate", "q78_minhash_portable",
    "q85_source_overlap", "q86_lsh_knn_portable", "q87_ivf_knn_portable", "q88_duplicate_spans",
    "q90_dup_span_stats", "q92_temperature_threshold", "q94_incremental_dedup",
    "q95_incremental_portable", "q96_incremental_cosine", "q97_incremental_cosine_portable",
    "q98_incremental_clusters", "q99_incremental_clusters_portable")

  def tables(h: Harness): String = h.data.resolve("sf0.01").toString

  def expectedPath(root: Path): Path = root.resolve("perfbench").resolve("expected").resolve("query_batch.json")

  def loadExpected(root: Path): Map[String, Expected] = {
    val node = new ObjectMapper().readTree(expectedPath(root).toFile).get("queries")
    node.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(), Option(v.get("hash")).filterNot(_.isNull).map(_.asText()))
    }.toMap
  }

  def order(seed: Long, pass: Int, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed * 7919 + pass).shuffle(names.sorted)

  /** Build, plan and run one query; returns its checksum. */
  def runQuery(h: Harness, q: String, dir: String): (Long, String) = {
    val df = h.tracer.span("queries.build")(SparkEntry.queries(q)(h.spark, dir))
    Checksum.read(Plans.planned(Checksum.of(df), h.tracer))
  }
}
