package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.Bookstore
import graft.queries.ServingSql
import graft.sources.{DeltaLog, IcebergMeta, VersionedTable}

import Main.{OpResult, jlist, jmap}

final case class Ctx(spark: SparkSession, cfg: JsonNode, work: String) {
  var tracer: Tracer = _
  val dataDir: String = cfg.get("data_dir").asText()
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (tracer == null) body else tracer.span(name, tag)(body)
}

object Ctx {
  /** Drop what an operation left cached, as `graft.Bench` does between
    * catalog entries: DataFrame cache entries and persisted RDDs. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def rmrf(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      val s = Files.walk(f.toPath)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  private def files(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    finally s.close()
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".")
  }

  /** (log files, log bytes, data files, data bytes) of a table directory:
    * everything under `logDir` counts as log, every other parquet file as
    * data. */
  def storage(root: String, logDir: String): (Long, Long, Long, Long) = {
    val (log, rest) = files(root).partition(_.toString.contains(s"/$logDir/"))
    val data = rest.filter(isData)
    (log.size.toLong, log.map(Files.size).sum, data.size.toLong,
      data.map(Files.size).sum)
  }

  /** Bytes of `df` written once as plain parquet in one file. */
  def plainParquetBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    files(dir).filter(isData).map(Files.size).sum
  }
}

/** One benchmark workload. `setup(rep)` builds its tables from scratch;
  * `warmup()` then runs warm-up operations on the last set-up's tables;
  * `op(i)` is one closed-loop operation; `finish()` returns what the
  * correctness gate checks. */
trait Workload {
  def name: String
  def setup(rep: Int): Unit
  def warmup(): Unit
  def op(i: Int): OpResult
  def finish(): java.util.Map[String, Any]
}

object Formats {
  val all: Seq[String] = Seq("graft", "delta", "iceberg")
  val logDir: Map[String, String] =
    Map("graft" -> "_graft_log", "delta" -> "_delta_log", "iceberg" -> "metadata")

  /** Creates a table from `df`; returns its first version id. */
  def create(fmt: String, df: DataFrame, root: String): Long = fmt match {
    case "graft" => VersionedTable.commit(df, root)
    case "delta" => DeltaLog.commit(df, root)
    case "iceberg" => IcebergMeta.writeFixture(df, root)
  }

  /** Resolves the table's latest snapshot through the format's own
    * metadata API and returns a DataFrame read through the session's
    * data source pinned to that snapshot. */
  def resolve(spark: SparkSession, fmt: String, root: String): DataFrame =
    fmt match {
      case "graft" =>
        spark.read.format("graft")
          .option("versionAsOf", VersionedTable.latestVersion(root)).load(root)
      case "delta" =>
        spark.read.format("delta-log")
          .option("versionAsOf", DeltaLog.snapshot(spark, root).version)
          .load(root)
      case "iceberg" =>
        spark.read.format("iceberg-meta")
          .option("snapshotId", IcebergMeta.snapshot(root).snapshotId)
          .load(root)
    }
}

/** The first result seen under each key, which the gate checks against
  * its oracle, and whether each later result equals it. */
final class FirstResults {
  private val first = scala.collection.mutable.LinkedHashMap.empty[String,
    (java.util.Map[String, Any], String)]

  /** Records `table` (rows, canonical text) if `key` is new, adding the
    * `extra` fields; false when an earlier result under `key` differs. */
  def same(key: String, table: (java.util.Map[String, Any], String),
      extra: => Seq[(String, Any)]): Boolean =
    first.get(key) match {
      case None =>
        extra.foreach { case (k, v) => table._1.put(k, v) }
        first(key) = table
        true
      case Some((_, text)) => text == table._2
    }

  def tables: java.util.List[Any] = jlist(first.values.map(_._1).toSeq)
}

/** DuckDB SQL for the serving layer, built on the catalog's own oracle
  * for the cleaned reference table (the CTE prefix of q40's oracle). */
object Oracle {
  lazy val cleanCte: String = {
    val q40 = SparkEntry.oracleSql("q40_etl_books_dim")
    val at = q40.indexOf("\nSELECT ")
    require(at > 0 && q40.indexOf("\nSELECT ", at + 1) < 0,
      "q40 oracle no longer ends in one top-level SELECT")
    q40.substring(0, at)
  }

  private val mart =
    """,
      |books AS (SELECT DISTINCT "ISBN", "Book-Title", "Book-Author",
      |    "Year-Of-Publication", "Publisher" FROM clean),
      |customers AS (SELECT DISTINCT "Customer-ID", "Age", trim("City") AS "City",
      |    trim("State") AS "State", trim("Country") AS "Country" FROM clean),
      |ratings AS (SELECT "ISBN", "Customer-ID", "Book-Rating" FROM clean)
      |""".stripMargin

  def serving(q: String, country: String): String = {
    import MartServing._
    val body = q match {
      case "top_books" =>
        s"""SELECT b."ISBN", b."Book-Title",
           |  round(avg(CAST(r."Book-Rating" AS DOUBLE)), 4) AS "Average-Rating",
           |  count(*) AS "Total-Ratings"
           |FROM books b JOIN ratings r ON b."ISBN" = r."ISBN"
           |GROUP BY b."ISBN", b."Book-Title" HAVING count(*) > $MinRatings
           |ORDER BY "Average-Rating" DESC, b."ISBN" LIMIT $TopBooksK""".stripMargin
      case "top_countries" =>
        s"""SELECT "Country", count(*) AS "Customer Count" FROM customers
           |GROUP BY "Country" ORDER BY "Customer Count" DESC, "Country"
           |LIMIT $OtherK""".stripMargin
      case "top_states" =>
        val lit = country.replace("'", "''")
        s"""SELECT "Country", "State", count(*) AS "Customer Count"
           |FROM customers WHERE "Country" = '$lit'
           |GROUP BY "Country", "State"
           |ORDER BY "Customer Count" DESC, "State" LIMIT $OtherK""".stripMargin
      case "top_authors" =>
        s"""SELECT b."Book-Author",
           |  round(avg(CAST(r."Book-Rating" AS DOUBLE)), 4) AS "Average-Rating",
           |  count(*) AS "Total-Ratings"
           |FROM books b JOIN ratings r ON b."ISBN" = r."ISBN"
           |GROUP BY b."Book-Author" HAVING count(*) > $MinRatings
           |ORDER BY "Average-Rating" DESC, b."Book-Author" LIMIT $OtherK""".stripMargin
    }
    cleanCte + mart + body
  }
}

object MartServing {
  /** Worksheet parameters of the reference dashboard: k = 100 for top
    * books and 10 for the other worksheets (the `ServingSql` defaults,
    * taken from the reference's external-table-queries.sql). Its minimum
    * of 100 ratings per group is scaled to 20 for testdata-sized groups,
    * as the catalog's q39 scales it. Only the country varies between
    * requests, as it does in the reference. */
  val TopBooksK = 100
  val OtherK = 10
  val MinRatings = 20L
}

/** `mart_serving`: one Tableau dashboard refresh per operation — the
  * four worksheet queries on one table format — over the mart written
  * once into each format. */
final class MartServing(c: Ctx) extends Workload {
  val name = "mart_serving"
  private val plan = c.cfg.get("serving_plan").elements().asScala.toVector
  private var root = ""
  private val tables = Seq("books", "customers", "ratings")
  private val queries = Seq("top_books", "top_countries", "top_states", "top_authors")
  private val results = new FirstResults
  private val opKeys = Seq.newBuilder[java.util.Map[String, Any]]

  private def tableRoot(fmt: String, t: String) = s"$root/$fmt/$t"

  /** Seconds the last set-up spent building the mart with the
    * reference pipeline and writing it into the three formats. */
  private var martBuildS = 0.0

  def setup(rep: Int): Unit = {
    Ctx.rmrf(s"${c.work}/mart")
    root = s"${c.work}/mart/rep-$rep"
    val t0 = System.nanoTime()
    val clean = Bookstore.cleanNulls(Bookstore.expandLocation(
      Bookstore.buildRaw(c.spark, c.dataDir))).persist()
    val dims = Map(
      "books" -> Bookstore.booksDim(clean),
      "customers" -> Bookstore.customersDim(clean),
      "ratings" -> Bookstore.ratingsFact(clean))
    for (fmt <- Formats.all; t <- tables)
      Formats.create(fmt, dims(t), tableRoot(fmt, t))
    clean.unpersist()
    martBuildS = (System.nanoTime() - t0) / 1e9
    Ctx.release(c.spark)
  }

  def warmup(): Unit = {
    c.cfg.get("serving_warmup").elements().asScala
      .foreach(p => refresh(p, p.get("format").asText()))
    Ctx.release(c.spark)
  }

  /** Resolve the mart's tables on `fmt`, then build and run the four
    * worksheet queries. Returns (wall ms, parts, (result key, result
    * table, oracle SQL) per query). */
  private def refresh(p: JsonNode, fmt: String) = {
    import MartServing._
    val country = p.get("country").asText()
    val t0 = System.nanoTime()
    tables.foreach { t =>
      c.span(s"sources.$fmt.resolve", t)(
        Formats.resolve(c.spark, fmt, tableRoot(fmt, t)))
        .createOrReplaceTempView(t)
    }
    val resolveMs = Ctx.ms(t0)
    var constructMs, execMs = 0.0
    val out = queries.map { q =>
      val t1 = System.nanoTime()
      val df = c.span("queries.construct", q) {
        q match {
          case "top_books" => ServingSql.topBooksByRating(c.spark, MinRatings, TopBooksK)
          case "top_countries" => ServingSql.topCountries(c.spark, OtherK)
          case "top_states" => ServingSql.topStates(c.spark, country, OtherK)
          case "top_authors" => ServingSql.topAuthors(c.spark, MinRatings, OtherK)
        }
      }
      val t2 = System.nanoTime()
      val rows = c.span("exec.collect", q)(df.collect())
      constructMs += (t2 - t1) / 1e6
      execMs += Ctx.ms(t2)
      val key = if (q == "top_states") s"$fmt/$q/country=$country" else s"$fmt/$q"
      (key, Main.table(df.columns.toSeq, rows), Oracle.serving(q, country))
    }
    (Ctx.ms(t0), Map("resolve_ms" -> resolveMs, "construct_ms" -> constructMs,
      "exec_ms" -> execMs), out)
  }

  def op(i: Int): OpResult = {
    val p = plan(i % plan.size)
    val (wall, parts, out) = refresh(p, p.get("format").asText())
    opKeys += jmap("op" -> i, "keys" -> jlist(out.map(_._1)))
    val differ = out.filterNot { case (key, table, sql) =>
      results.same(key, table, Seq("key" -> key, "sql" -> sql))
    }.map(_._1)
    OpResult(wall, parts, ok = differ.isEmpty,
      note = if (differ.isEmpty) "" else s"results differ from the first run: ${differ.mkString(",")}")
  }

  def finish(): java.util.Map[String, Any] = {
    val storage = Formats.all.map { fmt =>
      val st = tables.map(t => Ctx.storage(tableRoot(fmt, t), Formats.logDir(fmt)))
      fmt -> jmap("log_files" -> st.map(_._1).sum, "log_bytes" -> st.map(_._2).sum,
        "data_files" -> st.map(_._3).sum, "data_bytes" -> st.map(_._4).sum)
    }
    val plain = tables.map(t => Ctx.plainParquetBytes(
      Formats.resolve(c.spark, "graft", tableRoot("graft", t)),
      s"${c.work}/plain/$t")).sum
    jmap("results" -> results.tables,
      "op_keys" -> opKeys.result().asJava,
      "storage" -> jmap(storage: _*), "plain_bytes" -> plain,
      "mart_build_s" -> martBuildS)
  }
}

/** `curation_ops`: one pass over the LLM-curation catalog entries per
  * operation, with the cache cleared after each entry as `graft.Bench`
  * does. */
final class CurationOps(c: Ctx) extends Workload {
  val name = "curation_ops"
  private val entries = Main.textOf(c.cfg.get("curation_entries"))
  private val results = new FirstResults

  private def entry(e: String) = {
    val t0 = System.nanoTime()
    val df = c.span("queries.construct", e)(SparkEntry.queries(e)(c.spark, c.dataDir))
    val t1 = System.nanoTime()
    val rows = c.span("exec.collect", e)(df.collect())
    val t2 = System.nanoTime()
    val leaks = (org.apache.spark.sql.BenchAccess.cachedPlans(c.spark),
      c.spark.sparkContext.getPersistentRDDs.size)
    Ctx.release(c.spark)
    ((t2 - t0) / 1e6, (t1 - t0) / 1e6, Main.table(df.columns.toSeq, rows), leaks)
  }

  def setup(rep: Int): Unit = ()

  /** Two passes: the first measured pass after a single warm-up pass
    * still ran 10-40% slower than the ones after it. */
  def warmup(): Unit = for (_ <- 1 to 2; e <- entries) entry(e)

  def op(i: Int): OpResult = {
    val runs = entries.map(e => e -> entry(e))
    val bad = runs.filterNot { case (e, (_, _, table, _)) =>
      results.same(e, table, Seq("entry" -> e, "sql" -> SparkEntry.oracleSql(e)))
    }.map(_._1)
    val parts = runs.flatMap { case (e, (wall, construct, _, _)) =>
      Seq(s"$e.wall_ms" -> wall, s"$e.construct_ms" -> construct)
    }.toMap
    OpResult(runs.map(_._2._1).sum, parts, ok = bad.isEmpty,
      note = if (bad.isEmpty) "" else s"results differ from the first run: ${bad.mkString(",")}",
      leakedPlans = runs.map(_._2._4._1).sum, leakedRdds = runs.map(_._2._4._2).sum)
  }

  def finish(): java.util.Map[String, Any] = jmap("results" -> results.tables)
}
