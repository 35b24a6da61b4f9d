package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.catalog._
import graft.datatypes.{DataRef, Detect}
import graft.inspect.Inspect
import graft.pipeline.Pipeline
import graft.readers.{DeltaWriter, IcebergWriter, SparkReaders}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the corpus generator decides, as a pure function of the seed:
  * which slice of which source table lands in which format. The
  * determinism test pins that the same seed gives the same spec.
  */
final case class DatasetSpec(name: String, format: String, table: String, ds: Int,
    offset: Int, length: Int, offset2: Int = 0, length2: Int = 0)

object CorpusSpec {
  val fileFormats: Seq[String] = Seq("parquet", "csv", "csvgz", "json", "orc", "avro")
  val sliceTables: Seq[String] = Seq("orders", "lineitem", "customer", "events")
  val tableTables: Seq[String] = Seq("orders", "customer")
  val perFormatTable = 8
  val partitioned = 8
  /** Rows per dataset. Every dataset of a (format, table) pair has the
    * same size, so which one a seed makes popular does not change the
    * work an op does; the seed picks the slices. */
  val fileRows = 120
  val partRows = 600
  val commitRows = 100

  /** Source-table sizes the spec is drawn against (the committed sf0.01 tables). */
  def generate(seed: Long, sizes: Map[String, Int]): Seq[DatasetSpec] = {
    val rnd = new scala.util.Random(seed)
    def offset(table: String, len: Int): Int = rnd.nextInt(sizes(table) - len)
    val files = for {
      f <- fileFormats
      t <- sliceTables
      i <- 0 until perFormatTable
    } yield DatasetSpec(f"${t}_${f}_$i%03d", f, t, i, offset(t, fileRows), fileRows)
    val parts = (0 until partitioned).map { i =>
      DatasetSpec(f"orders_part_$i%03d", "part", "orders", i, offset("orders", partRows), partRows)
    }
    val tables = for {
      f <- Seq("delta", "iceberg")
      (t, i) <- tableTables.zipWithIndex
    } yield DatasetSpec(f"${t}_${f}_$i%03d", f, t, i, offset(t, commitRows), commitRows,
      offset(t, commitRows), commitRows)
    files ++ parts ++ tables
  }

  /** Deterministic text form, for the determinism test and the run record. */
  def render(specs: Seq[DatasetSpec]): String =
    specs.map(s => s"${s.name},${s.format},${s.table},${s.ds},${s.offset},${s.length},${s.offset2},${s.length2}")
      .mkString("\n")
}

/** Intake's front door as one interactive user: open catalog entries,
  * sniff and inspect raw URLs, search and reload the catalog. Set-up
  * writes a seeded corpus of a few hundred small datasets sliced from
  * the sf0.01 tables (six file formats, partitioned directories, Delta
  * and Iceberg tables through the engine's own writers, and the binary
  * fixtures) plus a YAML catalog with templated user parameters over it.
  */
object CatalogOpen extends Workload {
  val name = "catalog_open"
  val discoverN = 10
  val zipfS = 1.1
  val minRotations = 4
  val priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The binary fixtures and what their readers return: kind, columns, rows. */
  val fixtures: Seq[(String, String, Set[String], Long)] = Seq(
    ("sample.db", "sqlite", Set("id", "name", "score", "data", "note"), 3L),
    ("sample.dta", "stata", Set("id", "weight", "grade", "city"), 200L),
    ("sample.gpkg", "geopackage", Set("fid", "name", "geometry_type", "geometry_json"), 4L),
    ("sample.mbtiles", "mbtiles", Set("zoom_level", "tile_column", "tile_row", "xyz_row", "tile_data"), 21L))

  /** Something a URL op can target: a raw file or table directory. */
  final case class Target(url: String, kind: String, columns: Set[String], rows: Long, group: String, table: String)
  /** A catalog entry, with the user parameter it takes if any. */
  final case class Entry(name: String, columns: Set[String], rows: Long, table: String, format: String,
      rowsByPriority: Map[String, Long] = Map.empty)

  private var entries: IndexedSeq[Entry] = IndexedSeq.empty
  private var targets: IndexedSeq[Target] = IndexedSeq.empty
  private var catalog: Catalog = Catalog()
  private var yaml: String = ""
  private var rnd: scala.util.Random = _
  private var entryPick: Map[String, Zipf] = Map.empty
  private var targetPick: Map[String, Zipf] = Map.empty
  private var searchPick: Zipf = _

  val entryGroups: Seq[String] = Seq("parquet", "csv", "csvgz", "json", "orc", "avro", "part", "delta", "iceberg")
  val targetGroups: Seq[String] = Seq("parquet", "csv", "json", "orc", "avro", "delta", "fixtures")

  /** Round `r` of the op mix, in a seeded order: an open per entry
    * format; one raw-URL op per target group, the kind (sniff, inspect,
    * auto-open) rotating with the round so three rounds cover every
    * pairing; a search; and a reload. The source table (or fixture) an op
    * reads rotates with the round too, so the mix of work is the same
    * for every seed. Which dataset of that (group, table) an op hits is
    * drawn from a Zipf popularity, so repeat opens still share caches.
    * Entries are (kind, group, rotation index). */
  def round(r: Int): Seq[(String, String, Int)] = {
    val urlKinds = Seq("sniff", "inspect", "auto")
    entryGroups.zipWithIndex.map { case (g, i) => ("open", g, r + i) } ++
      targetGroups.zipWithIndex.map { case (g, i) => (urlKinds((i + r) % urlKinds.size), g, r + i) } ++
      Seq(("search", "", r), ("reload", "", r))
  }

  def setup(h: Harness): Unit = {
    val spark = h.spark
    val corpus = h.work.resolve("corpus")
    val src = h.data.resolve("sf0.01")
    val tRead = System.nanoTime()
    // single-file tables: a plain read returns rows in file order
    val rows: Map[String, (StructType, IndexedSeq[Row])] = inParallel(CorpusSpec.sliceTables.map { t => () =>
      val df = spark.read.parquet(src.resolve(s"$t.parquet").toString)
      t -> (df.schema, df.collect().toIndexedSeq)
    }).toMap
    System.err.println(f"[perfbench] source tables read in ${(System.nanoTime() - tRead) / 1e9}%.1f s")
    val specs = CorpusSpec.generate(h.seed, rows.map { case (t, (_, r)) => t -> r.size })
    h.inputs.put("corpus_spec_sha1", sha1(CorpusSpec.render(specs)))
    def slice(s: DatasetSpec): IndexedSeq[Row] = rows(s.table)._2.slice(s.offset, s.offset + s.length)
    def slice2(s: DatasetSpec): IndexedSeq[Row] = rows(s.table)._2.slice(s.offset2, s.offset2 + s.length2)
    def frame(schema: StructType, rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)

    val tWrite = System.nanoTime()
    val writes = Seq.newBuilder[() => Unit]
    def async(body: => Unit): Unit = writes += (() => body)

    // text formats are written directly, like files from any other tool
    for (s <- specs if Set("csv", "csvgz", "json").contains(s.format)) async {
      val dir = corpus.resolve(s.format).resolve(s.table).resolve(s"_ds=${s.ds}")
      TextFiles.write(dir, rows(s.table)._1, slice(s), s.format)
    }
    // one single-task partitioned Spark write per (format, table): each
    // dataset lands in its own _ds=<i> directory as one file
    for (f <- Seq("parquet", "orc", "avro"); t <- CorpusSpec.sliceTables) async {
      val (schema, _) = rows(t)
      val mine = specs.filter(s => s.format == f && s.table == t)
      val withDs = StructType(schema.fields :+ StructField("_ds", IntegerType))
      val df = frame(withDs, mine.flatMap(s => slice(s).map(r => Row.fromSeq(r.toSeq :+ s.ds))))
      val w = df.coalesce(1).write.partitionBy("_ds").mode("overwrite")
      val dir = corpus.resolve(f).resolve(t).toString
      if (f == "avro") w.format("org.apache.spark.sql.avro.AvroFileFormat").save(dir) else w.format(f).save(dir)
    }
    async {
      val (schema, _) = rows("orders")
      val withDs = StructType(schema.fields :+ StructField("_ds", IntegerType))
      val mine = specs.filter(_.format == "part")
      frame(withDs, mine.flatMap(s => slice(s).map(r => Row.fromSeq(r.toSeq :+ s.ds))))
        .coalesce(1)
        .write.partitionBy("_ds", "o_orderpriority").mode("overwrite")
        .parquet(corpus.resolve("part").resolve("orders").toString)
    }
    for (s <- specs if s.format == "delta" || s.format == "iceberg") async {
      val (schema, _) = rows(s.table)
      val path = corpus.resolve(s.format).resolve(s.name).toString
      if (s.format == "delta") {
        DeltaWriter.write(spark, frame(schema, slice(s)), path, mode = "errorifexists")
        DeltaWriter.write(spark, frame(schema, slice2(s)), path, mode = "append")
      } else {
        IcebergWriter.write(spark, frame(schema, slice(s)), path, mode = "errorifexists")
        IcebergWriter.write(spark, frame(schema, slice2(s)), path, mode = "append")
      }
    }
    inParallel(writes.result())
    System.err.println(f"[perfbench] corpus written in ${(System.nanoTime() - tWrite) / 1e9}%.1f s")

    val fixtureDir = corpus.resolve("fixtures")
    Files.createDirectories(fixtureDir)
    fixtures.foreach { case (f, _, _, _) =>
      Files.copy(h.root.resolve("src/test/resources/fixtures").resolve(f), fixtureDir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // catalog entries and URL targets
    val rootParam = SimpleUserParameter("root", "corpus directory", "str", corpus.toString)
    var cat = Catalog(userParameters = Seq(rootParam))
    val es = IndexedSeq.newBuilder[Entry]
    val ts = IndexedSeq.newBuilder[Target]
    val kindOf = Map("parquet" -> "parquet", "csv" -> "csv", "csvgz" -> "csv", "json" -> "json",
      "orc" -> "orc", "avro" -> "avro")
    val readerOf = Map("parquet" -> "spark_parquet", "csv" -> "spark_csv", "csvgz" -> "spark_csv",
      "json" -> "spark_json", "orc" -> "spark_orc", "avro" -> "spark_avro", "part" -> "spark_parquet",
      "delta" -> "delta_native", "iceberg" -> "iceberg_native")
    for (s <- specs) {
      val cols = rows(s.table)._1.fieldNames.toSet
      val (rel, kind, entryCols, rowsByPrio) = s.format match {
        case "part" =>
          val prio = slice(s).groupBy(_.getAs[String]("o_orderpriority")).map { case (k, v) => k -> v.size.toLong }
          (s"part/orders/_ds=${s.ds}/o_orderpriority={prio}", "parquet", cols - "o_orderpriority", prio)
        case "delta" | "iceberg" => (s"${s.format}/${s.name}", s.format, cols, Map.empty[String, Long])
        case f =>
          val dir = corpus.resolve(f).resolve(s.table).resolve(s"_ds=${s.ds}")
          val file = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
            .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq.sorted.head
          // gzip CSV stays out of the raw-URL ops: Detect returns the
          // candidate URL with ".gz" stripped, so reading it fails
          // (engine defect, see perfbench/README.md); catalog opens of
          // the same files pass the real URL and are measured.
          if (f != "csvgz") ts += Target(dir.resolve(file).toString, kindOf(f), cols, s.length, f, s.table)
          (s"$f/${s.table}/_ds=${s.ds}/$file", kindOf(f), cols, Map.empty[String, Long])
      }
      val dd = DataDescription(DataRef(kind, "{root}/" + rel,
        if (s.format.startsWith("csv")) Map("header" -> "true", "inferSchema" -> "true") else Map.empty))
      val params = if (s.format == "part")
        Seq(OptionsParameter("prio", "order priority partition", priorities, priorities.head)) else Nil
      val rd = ReaderDescription(readerOf(s.format), Map("data" -> s"{data(${dd.token})}"), userParameters = params)
      cat = cat.addData(dd).addEntry(s.name, rd)
      val total = s.length.toLong + s.length2
      es += Entry(s.name, entryCols, total, s.table, s.format, rowsByPrio)
      if (s.format == "delta") ts += Target(corpus.resolve(rel).toString, "delta", cols, total, "delta", s.table)
    }
    fixtures.foreach { case (f, kind, cols, n) => ts += Target(fixtureDir.resolve(f).toString, kind, cols, n, "fixtures", f) }
    entries = es.result()
    targets = ts.result()
    yaml = h.work.resolve("catalog.yaml").toString
    CatalogIO.toYamlFile(cat, yaml)
    catalog = CatalogIO.fromYamlFile(yaml)

    System.err.println(f"[perfbench] catalog built in ${(System.nanoTime() - tWrite) / 1e9}%.1f s since the corpus started")
    rnd = new scala.util.Random(h.seed ^ 0x5eedL)
    entryPick = entries.groupBy(e => s"${e.format}/${e.table}").toSeq.sortBy(_._1)
      .map { case (k, es) => k -> new Zipf(es.size, zipfS, rnd) }.toMap
    targetPick = targets.groupBy(t => s"${t.group}/${t.table}").toSeq.sortBy(_._1)
      .map { case (k, ts) => k -> new Zipf(ts.size, zipfS, rnd) }.toMap
    searchPick = new Zipf(entries.size, zipfS, rnd)
    h.inputs.put("datasets", specs.size + fixtures.size)
    h.inputs.put("catalog_entries", entries.size)
    h.inputs.put("url_targets", targets.size)
    h.inputs.put("url_targets_excluded", "csvgz: Detect strips .gz from the candidate URL")
    h.inputs.put("corpus_bytes", du(corpus))
    h.inputs.put("zipf_s", zipfS)
    h.inputs.put("zipf_top1_share_per_table", entryPick("parquet/orders").share(1))
    h.inputs.put("zipf_top3_share_per_table", entryPick("parquet/orders").share(3))
    h.inputs.put("ops_per_round", round(0).size)

    // warm-up: one whole rotation, so the window starts after the first
    // pass of every op kind over every group (class loading, codegen and
    // most of the JIT work)
    val tWarm = System.nanoTime()
    (0 until 3).foreach(_ => runRound(h))
    System.err.println(f"[perfbench] warm-up in ${(System.nanoTime() - tWarm) / 1e9}%.1f s")
  }

  /** Whole rotations of three rounds, so that every window holds each
    * (URL op, target group) pairing equally often. At least
    * `minRotations` of them: four rotations are twelve rounds, the period
    * after which every (group, table) pairing has come round as often as
    * every other, so every run measures the same work. More rotations
    * run while `seconds` have not passed. With `seconds <= 0` (the
    * untimed run that writes the class-data-sharing archive) one rotation
    * runs. */
  def measure(h: Harness, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val least = if (seconds <= 0) 1 else minRotations
    var done = 0
    while (done < least || (System.nanoTime() - t0) / 1e9 < seconds) {
      (0 until 3).foreach(_ => runRound(h))
      done += 1
    }
  }

  private var rounds = 0

  private def runRound(h: Harness): Unit = {
    rnd.shuffle(round(rounds)).foreach { case (kind, group, k) => step(h, kind, group, k) }
    rounds += 1
  }

  /** The `k`-th (cyclically) table of a group, then a Zipf pick among
    * that table's datasets. */
  private def entryIn(group: String, k: Int): Entry = {
    val inGroup = entries.filter(_.format == group)
    val tables = inGroup.map(_.table).distinct.sorted
    val t = tables(k % tables.size)
    inGroup.filter(_.table == t)(entryPick(s"$group/$t").next())
  }
  private def targetIn(group: String, k: Int): Target = {
    val inGroup = targets.filter(_.group == group)
    val tables = inGroup.map(_.table).distinct.sorted
    val t = tables(k % tables.size)
    inGroup.filter(_.table == t)(targetPick(s"$group/$t").next())
  }

  private def expect(passed: Boolean, detail: => String): Outcome = {
    if (!passed) System.err.println(s"[perfbench] wrong output: $detail")
    Outcome.check(passed)
  }

  private def colsOf(df: DataFrame): Set[String] = df.schema.fieldNames.toSet

  /** One op, drawn from the seeded mix. */
  def step(h: Harness, kind: String, group: String, k: Int): Unit = {
    val spark = h.spark
    val tr = h.tracer
    kind match {
      case "open" =>
        val e = entryIn(group, k)
        val present = priorities.filter(e.rowsByPriority.contains)
        val prio = if (e.format == "part") Some(present(rnd.nextInt(present.size))) else None
        h.op("open") {
          val pipe = tr.span("catalog.resolve")(catalog(e.name, prio.map(p => Map[String, Any]("prio" -> p)).getOrElse(Map.empty)))
          val (got, cols) = tr.span("pipeline.discover") {
            val df = Plans.planned(pipe.discover(spark, discoverN), tr)
            (df.collect().length.toLong, colsOf(df))
          }
          val n = prio.map(p => e.rowsByPriority.getOrElse(p, 0L)).getOrElse(e.rows)
          expect(got == math.min(discoverN, n) && cols == e.columns, s"open ${e.name}: $got/$cols vs $n/${e.columns}")
        }
      case "sniff" =>
        val t = targetIn(group, k)
        h.op("sniff") {
          val cands = tr.span("datatypes.detect") {
            val before = threadBytesRead()
            val c = Detect.recommendPath(t.url, spark.sparkContext.hadoopConfiguration)
            tr.sample("datatypes.head_bytes_read", (threadBytesRead() - before).toDouble)
            c
          }
          val chosen = cands.iterator.map { s =>
            val ref = DataRef(s.kind.name, s.url, s.options)
            (tr.span("readers.recommend")(SparkReaders.recommend(ref))._1, ref)
          }.collectFirst { case (imp, ref) if imp.nonEmpty => (imp.head, ref) }
          chosen match {
            case None => Outcome.wrongOutput
            case Some((reader, ref)) =>
              val (got, cols) = tr.span("readers.discover") {
                val df = Plans.planned(reader.discover(spark, ref, discoverN), tr)
                (df.collect().length.toLong, colsOf(df))
              }
              expect(ref.kind == t.kind && got == math.min(discoverN, t.rows) && cols == t.columns,
                s"sniff ${t.url}: ${ref.kind}/$got/$cols vs ${t.kind}/${t.rows}/${t.columns}")
          }
        }
      case "inspect" =>
        val t = targetIn(group, k)
        h.op("inspect") {
          val r = tr.span("inspect.inspect")(Inspect.inspectDataset(spark, t.url))
          expect(r.kind == t.kind && r.columns.toSet == t.columns && r.sampleRows == math.min(discoverN, t.rows),
            s"inspect ${t.url}: ${r.kind}/${r.columns.toSet}/${r.sampleRows} vs ${t.kind}/${t.columns}/${t.rows}")
        }
      case "auto" =>
        val t = targetIn(group, k)
        h.op("auto") {
          val pipe = tr.span("pipeline.auto")(Pipeline.auto(t.url))
          val n = tr.span("readers.read") {
            Plans.planned(pipe.source.read(spark, pipe.ref).agg(count(lit(1))), tr).collect().head.getLong(0)
          }
          expect(pipe.ref.kind == t.kind && n == t.rows, s"auto ${t.url}: ${pipe.ref.kind}/$n vs ${t.kind}/${t.rows}")
        }
      case "search" =>
        val e = entries(searchPick.next())
        val byFormat = rnd.nextBoolean()
        h.op("search") {
          val expr = if (byFormat) TextExpr(e.table) && TextExpr(s"_${e.format}_") else TextExpr(e.table)
          val found = tr.span("catalog.search")(catalog.search(expr)).names.size
          Outcome.check(found == entries.count(x => x.table == e.table && (!byFormat || x.format == e.format)))
        }
      case "reload" =>
        h.op("reload") {
          val c = tr.span("catalog.load")(CatalogIO.fromYamlFile(yaml))
          Outcome.check(c.names.size == entries.size)
        }
    }
  }

  /** Run the tasks on one thread per core; rethrows the first failure. */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.nproc)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  /** Bytes this thread has read through Hadoop file systems so far. */
  private def threadBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum

  def du(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** Zipf-distributed ranks over a seeded permutation of `n` items. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val perm = rnd.shuffle((0 until n).toIndexedSeq)
  private val cdf = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
  /** Probability mass of the `k` most popular items. */
  def share(k: Int): Double = cdf(math.min(k, n) - 1)
}

/** CSV (optionally gzip) and JSON-lines files written without Spark. */
object TextFiles {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def text(v: Any): String = v match {
    case null => ""
    case other => other.toString
  }

  /** Quote like Spark's CSV defaults expect: `"` around fields holding
    * a comma, quote or line break, and `\"` for an inner quote. */
  private def csvField(v: Any): String = {
    val t = text(v)
    if (t.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else t
  }

  def write(dir: java.nio.file.Path, schema: StructType, rows: Seq[Row], format: String): Unit = {
    Files.createDirectories(dir)
    val (name, lines) = format match {
      case "json" =>
        "part-00000.json" -> rows.map { r =>
          val m = new java.util.LinkedHashMap[String, Any]()
          schema.fieldNames.indices.foreach { i =>
            m.put(schema.fieldNames(i), r.get(i) match {
              case d: java.util.Date => d.toString
              case t: java.time.temporal.Temporal => t.toString
              case other => other
            })
          }
          mapper.writeValueAsString(m)
        }
      case _ =>
        (if (format == "csvgz") "part-00000.csv.gz" else "part-00000.csv") ->
          (schema.fieldNames.mkString(",") +: rows.map(r => r.toSeq.map(csvField).mkString(",")))
    }
    val raw = Files.newOutputStream(dir.resolve(name))
    val out = if (format == "csvgz") new java.util.zip.GZIPOutputStream(raw) else raw
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
