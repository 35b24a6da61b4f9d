package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p90 is reported only with at least 10 samples beyond it") {
    val s99 = (1 to 99).map(_.toDouble)
    val s100 = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.tailPercentile(s99, 0.9).isEmpty)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tailPercentile(s100, 0.9).contains(90.0))
    assert(Stats.tailPercentile(Nil, 0.9).isEmpty)
  }

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("failed ops and wrong outputs both count against failed_ratio") {
    val all = Seq(Outcome.ok, Outcome.error, Outcome.wrongOutput, Outcome.ok).reduce(_ + _)
    assert(all.attempted == 4 && all.errors == 1 && all.wrong == 1)
    assert(all.failed == 2)
    assert(all.failedRatio == 0.5)
    assert(!all.correct)
    assert(Seq(Outcome.ok, Outcome.check(true)).reduce(_ + _).correct)
    assert(Outcome.check(false) == Outcome.wrongOutput)
    assert(!Outcome().correct, "a run that attempted nothing is not correct")
  }
}

class MetricSchemaSpec extends AnyFunSuite {

  private def names(ms: Seq[(String, String)]) = ms.map(_._1)

  test("metric names and units follow the result-line grammar and are unique per workload") {
    Metrics.workloads.foreach { w =>
      val all = Metrics.allFor(w)
      all.foreach { case (n, u) =>
        assert(Metrics.validName(n), s"bad metric name $n")
        assert(Metrics.validUnit(u), s"bad unit $u of $n")
      }
      assert(names(all).distinct.size == all.size, s"duplicate metric names for $w")
    }
    assert(names(Metrics.endToEnd).contains("setup_s"))
  }

  test("BENCHMARK.json declares exactly the shared end-to-end and per-layer metrics") {
    val bench = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(key: String): Seq[(String, String)] =
      bench.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Metrics.workloads)
    val setup = bench.get("end_to_end").elements().asScala.find(_.get("name").asText() == "setup_s").get
    assert(setup.get("better").asText() == "lower")
  }

  test("every workload-specific metric named in the layer table is defined") {
    val layers = Metrics.workloadLayers.values.flatten.map(_._1).toSet
    Seq("queries.build_s", "datatypes.detect_s", "datatypes.head_bytes_read", "catalog.search_s",
      "ops.text_probe_s", "ops.vector_index_compact_s", "readers.live_files", "ops.vector_dup_share")
      .foreach(n => assert(layers.contains(n), n))
  }
}

class SeedDeterminismSpec extends AnyFunSuite {
  private val sizes = Map("orders" -> 15000, "lineitem" -> 60000, "customer" -> 1500, "events" -> 10000)
  private val history = IndexedSeq("key agg row scan slow fast table value part hash", "batch window spark order data")
  private val historyVecs = IndexedSeq.tabulate(4)(i => IndexedSeq.tabulate(IngestBatch.dim)(j => ((i + 1) * (j + 3) % 7 - 3).toFloat))

  test("the same seed gives a byte-identical corpus spec; another seed a different one") {
    val a = CorpusSpec.render(CorpusSpec.generate(11L, sizes))
    val b = CorpusSpec.render(CorpusSpec.generate(11L, sizes))
    val c = CorpusSpec.render(CorpusSpec.generate(12L, sizes))
    assert(a.getBytes("UTF-8").sameElements(b.getBytes("UTF-8")))
    assert(a != c)
    val specs = CorpusSpec.generate(11L, sizes)
    assert(specs.map(_.name).distinct.size == specs.size)
    assert(specs.forall(s => s.offset >= 0 && s.offset + s.length <= sizes(s.table) && s.length >= 5))
  }

  test("the same seed gives byte-identical ingest batches; another seed different ones") {
    def batches(seed: Long): Seq[String] = {
      val prior = scala.collection.mutable.ArrayBuffer.empty[String]
      val priorV = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Float]]
      (0 until 3).map { step =>
        val b = IngestBatch.generate(seed, step, history, prior.toIndexedSeq, historyVecs, priorV.toIndexedSeq)
        prior ++= b.fresh
        priorV ++= b.freshVecs
        b.render
      }
    }
    val a = batches(5L)
    assert(a == batches(5L))
    assert(a.map(_.getBytes("UTF-8").toSeq) == batches(5L).map(_.getBytes("UTF-8").toSeq))
    assert(a != batches(6L))
  }

  test("batch composition is fixed: fresh words never occur in the history corpus") {
    val b = IngestBatch.generate(3L, 0, history, IndexedSeq.empty, historyVecs, IndexedSeq.empty)
    assert(b.text.size == IngestBatch.textRows && b.vecs.size == IngestBatch.vecRows)
    assert(b.textSurvivors == IngestBatch.textRows - IngestBatch.textHistDups - IngestBatch.textSelfDups)
    assert(b.vecSurvivors == IngestBatch.vecRows - IngestBatch.vecHistDups)
    val historyWords = history.flatMap(_.split(" ")).toSet
    assert(b.fresh.flatMap(_.split(" ")).forall(w => !historyWords.contains(w)))
    assert(b.text.map(_.id).distinct.size == b.text.size)
    // near-duplicates of history vectors stay far above the 0.9 probe threshold
    def cos(x: IndexedSeq[Float], y: IndexedSeq[Float]): Double =
      x.indices.map(i => x(i).toDouble * y(i)).sum /
        math.sqrt(x.map(v => v.toDouble * v).sum * y.map(v => v.toDouble * v).sum)
    val best = b.vecs.map(v => historyVecs.map(hv => cos(v.v, hv)).max).sorted.reverse
    assert(best.take(IngestBatch.vecHistDups).forall(_ > 0.98))
  }
}

class ChecksumSpec extends AnyFunSuite {
  test("the output checksum ignores row order and partitioning but not content") {
    val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "perfbench-checksum")
    val spark = Main.session(work, 2)
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i.toLong, s"s$i", i / 7.0, Seq(i * 0.5f)))
      val a = rows.toDF("id", "s", "d", "v")
      val b = scala.util.Random.shuffle(rows).toDF("id", "s", "d", "v").repartition(5)
      val c = rows.updated(3, (4L, "s4", 4 / 7.0 + 1e-6, Seq(2.0f))).toDF("id", "s", "d", "v")
      val ca = Checksum.read(Checksum.of(a))
      assert(ca._1 == 200)
      assert(ca == Checksum.read(Checksum.of(b)))
      assert(ca != Checksum.read(Checksum.of(c)))
      assert(Checksum.read(Checksum.of(a.limit(0)))._1 == 0)
    } finally spark.stop()
  }
}
