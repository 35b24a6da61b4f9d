package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry

/** Regenerates perfbench/expected/query_batch.json; run it with
  * `python3 perfbench/run.py --record-expected <work dir>`.
  *
  * Every query runs once serially and once inside a concurrent pass
  * with one client per core. A query whose checksum differs between the
  * two is not deterministic under concurrency; it keeps its row count
  * and is stored with `"hash": null`. Each serial output is also written
  * as parquet under `<work dir>/outputs/<query>` together with
  * `oracle_sql.json`, for perfbench/oracle_check.py to compare against
  * DuckDB.
  */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    val work = Paths.get(args(1)).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work, Main.nproc)
    val h = new Harness(spark, new Tracer(false), 0L, root, work)
    val dir = QueryBatch.tables(h)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val mapper = new ObjectMapper()

    val serial = names.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.write.mode("overwrite").parquet(work.resolve("outputs").resolve(q).toString)
      q -> Checksum.read(Checksum.of(df))
    }.toMap
    val concurrent = new ConcurrentHashMap[String, (Long, String)]()
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](names.reverse.asJava)
    h.closedLoop(Main.nproc)(() => Option(queue.poll())) { q =>
      concurrent.put(q, QueryBatch.runQuery(h, q, dir))
    }

    val out = mapper.createObjectNode()
    out.put("tables", "perfbench/data/sf0.01")
    val qs = out.putObject("queries")
    names.foreach { q =>
      val (rows, hash) = serial(q)
      val n = qs.putObject(q).put("rows", rows)
      if (concurrent.get(q) == ((rows, hash))) n.put("hash", hash) else {
        System.err.println(s"[record] $q: serial $rows/$hash vs concurrent ${concurrent.get(q)} — row count only")
        n.putNull("hash")
      }
    }
    Files.write(QueryBatch.expectedPath(root), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
    val oracle = mapper.createObjectNode()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (q, sql) => oracle.put(q, sql) }
    Files.write(work.resolve("outputs").resolve("oracle_sql.json"), mapper.writeValueAsBytes(oracle))
    spark.stop()
  }
}
