package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.config.Configs._
import graft.core.{Clock, Sessions, TableCatalog}
import graft.ops.Quality
import graft.pipeline.Pipeline
import graft.queries.Parity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark session: builds the engine's session, warms the inputs, runs
  * one workload's operations one at a time (closed loop, one client) and
  * writes what it measured to the result file named in the plan.
  *
  * Usage: `graftbench.Main <plan.json>` (written by `run.py`). */
object Main {
  private val mapper = new ObjectMapper()

  final case class Op(name: String, seconds: Double, error: Option[String],
      leakedRdds: Int, leakedBytes: Long)

  def main(args: Array[String]): Unit = {
    val tMain = instantMicros()
    val plan = mapper.readTree(Paths.get(args(0)).toFile)
    def str(k: String) = plan.get(k).asText
    val workload = str("workload")
    val queries = Option(plan.get("queries")).map(_.elements().asScala.map(_.asText).toSeq)
      .getOrElse(Nil)
    // A renamed or dropped query must not silently shrink a pinned mix.
    val missing = queries.filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[graftbench] queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val scratch = str("scratch")
    val spark = Sessions.local(cores = plan.get("cores").asInt, appName = "graftbench",
      extraConf = Map(
        "spark.local.dir" -> s"$scratch/spark-local",
        "spark.sql.warehouse.dir" -> s"$scratch/warehouse"))
    val tSession = instantMicros()
    val trace = plan.get("trace").asBoolean
    val rec = if (trace) Some(new Recorder(str("run_id"))) else None

    spark.range(100000).selectExpr("sum(id * 2)").write.format("noop").mode("overwrite").save()
    spark.range(1000).selectExpr("id", "cast(id as string) s")
      .write.mode("overwrite").parquet(s"$scratch/warm")
    val tRange = instantMicros()
    if (workload != "medallion") {
      val dir = str("data_dir")
      plan.get("warm_tables").elements().asScala.map(_.asText).foreach { t =>
        val df = if (t == "events") Parity.events(spark, dir) else Parity.table(spark, dir, t)
        df.write.format("noop").mode("overwrite").save()
      }
    }
    val readyUs = instantMicros()
    Bridge.drainListenerBus(spark)
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }

    val result = mutable.LinkedHashMap[String, Any]("ready_epoch_us" -> readyUs,
      "setup_marks_us" -> Seq(tMain, tSession, tRange, readyUs))
    val (ops, checks) =
      if (workload == "medallion") runMedallion(spark, plan, rec)
      else (runQueries(spark, str("data_dir"), str("out_dir"), queries, rec),
        () => Map("oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    result("ops") = ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds,
      "error" -> o.error.orNull, "leaked_rdds" -> o.leakedRdds, "leaked_bytes" -> o.leakedBytes))
    result("wall_s") = ops.map(_.seconds).sum

    // Memory retained at the end of the timed region: the least heap in use
    // over three full GCs, so asynchronous cleanup still running (the last
    // operation's unpersist, listener events) is not counted.
    val mb = 1024.0 * 1024.0
    result("retained_heap_mb") = (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / mb
    result("metaspace_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / mb

    // Spans and listener events are attributed before the checks add jobs.
    rec.foreach { r =>
      Bridge.drainListenerBus(spark, 30000L)
      result("layers") = Layers.summarize(r, ops, plan.get("cores").asInt)
      writeSpans(r, Paths.get(str("spans")))
    }
    val t0 = System.nanoTime()
    if (plan.get("check").asBoolean) result ++= checks()
    result("checks_s") = (System.nanoTime() - t0) / 1e9
    spark.stop()
    Files.writeString(Paths.get(str("result")), mapper.writeValueAsString(toJava(result)))
  }

  private def instantMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Outside the timed region: count what an operation left persisted, then
    * free it so no operation bills its successors. */
  private def sweep(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    val ids = persisted.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    persisted.values.foreach(_.unpersist(blocking = false))
    (ids.size, bytes)
  }

  private def timed(spark: SparkSession, name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[graftbench] $name failed: $e")
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val (n, bytes) = sweep(spark)
    Op(name, seconds, error, n, bytes)
  }

  private def span[T](rec: Option[Recorder], name: String, layer: String)(body: => T): T =
    rec.fold(body)(_.span(name, layer)(body))

  // -- query mixes -----------------------------------------------------------

  /** Each query once, in the given order: build (`SparkEntry.queries(name)`)
    * plus action (its result landed as parquet for the oracle check). */
  private def runQueries(spark: SparkSession, dataDir: String, outDir: String,
      queries: Seq[String], rec: Option[Recorder]): Seq[Op] =
    queries.map { name =>
      timed(spark, name) {
        span(rec, name, "op") {
          val df = span(rec, "build", "build") { SparkEntry.queries(name)(spark, dataDir) }
          span(rec, "action", "action") { df.write.mode("overwrite").parquet(s"$outDir/$name") }
        }
      }
    }

  // -- medallion -------------------------------------------------------------

  /** Runs the batches; returns them with the checks, which read the
    * retained catalog versions and so run after the timed region. */
  private def runMedallion(spark: SparkSession, plan: JsonNode,
      rec: Option[Recorder]): (Seq[Op], () => Map[String, Any]) = {
    val raw = Paths.get(plan.get("raw_root").asText)
    val staging = Paths.get(plan.get("staging_root").asText)
    val catRoot = Paths.get(plan.get("catalog_root").asText)
    val cat = new TableCatalog(catRoot.toString)
    val ch = raw.resolve("companies_house")
    val yf = raw.resolve("yfinance")
    val bronzeCh = BronzeConf("companies", "bronze", ch.toString, "json", Seq(
      BronzeTableConf("overview", "overview.json"),
      BronzeTableConf("officers", "officers.json", explode = true, Some("items")),
      BronzeTableConf("filing_history", "filing-history.json", explode = true, Some("items"))))
    val bronzeYf = BronzeConf("companies", "bronze", yf.toString, "csv", Seq(
      BronzeTableConf("company_details", "company_details/*.csv"),
      BronzeTableConf("fundamentals_data", "fundamentals_data/*.csv"),
      BronzeTableConf("trading_data", "trading_data/*.csv")))
    val silverYf = SilverConf("companies", "bronze", "silver", Seq(
      ScdTableConf("company_details", Seq("company_number"),
        Seq("market_cap", "industry", "sector")),
      ScdTableConf("fundamentals_data", Seq("company_number", "quarter_end_date"),
        Seq("total_revenue", "ebitda", "net_income")),
      ScdTableConf("trading_data", Seq("company_number", "date"),
        Seq("open", "high", "low", "close", "adj_close", "volume"))))
    val goldConf = GoldConf("companies", "silver", "gold",
      promoteTables = Seq("company_master"),
      dimensions = Seq("company_details"),
      facts = Seq(
        FactConf("fact_trading", "trading_data", "date", Seq("date")),
        FactConf("fact_fundamentals", "fundamentals_data", "quarter_end_date", Nil)))

    val layerCounts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val landed = mutable.ArrayBuffer.empty[(Int, Map[String, String])]
    val ops = plan.get("batches").elements().asScala.toSeq.map { b =>
      val k = b.get("batch").asInt
      val clock = Clock.fixed(b.get("clock").asText)
      deliver(staging.resolve(s"batch$k"), raw)
      val (files0, bytes0) = treeSize(catRoot)
      val rawFiles = treeSize(raw)._1
      val op = timed(spark, s"batch$k") {
        rec match {
          case None =>
            Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, cat, clock)
          case Some(r) => r.span(s"batch$k", "op") {
            // Pipeline.run's layer order; each layer publishes per table.
            r.span("bronzeCompanyHouse", "bronze") { Pipeline.bronzeCompanyHouse(spark, bronzeCh, cat) }
            r.span("bronzeYFinance", "bronze") { Pipeline.bronzeYFinance(spark, bronzeYf, cat) }
            r.span("silverCompanyMaster", "silver") {
              Pipeline.silverCompanyMaster(spark, "companies", cat, clock) }
            r.span("silverScd2", "silver") { Pipeline.silverScd2(spark, silverYf, cat, clock) }
            r.span("gold", "gold") { Pipeline.gold(spark, goldConf, cat) }
          }
        }
      }
      val (files1, bytes1) = treeSize(catRoot)
      layerCounts("bronze.files_in") += rawFiles
      layerCounts("catalog.files_written") += files1 - files0
      layerCounts("catalog.mb_written") += (bytes1 - bytes0) / (1024.0 * 1024.0)
      if (op.error.isEmpty) landed += k -> versioned.map(n =>
        n -> Paths.get(cat.currentPath(n)).getFileName.toString).toMap
      op
    }
    // The checks' small jobs are independent: submit them concurrently.
    val checks = () => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val perBatch = Future.traverse(landed.toSeq) { case (k, v) =>
        Future(batchChecks(spark, cat, silverYf, k, v)) }
      val last = Future(if (ops.forall(_.error.isEmpty)) finalChecks(spark, cat, silverYf) else null)
      Map[String, Any](
        "batch_checks" -> Await.result(perBatch, Duration.Inf),
        "final" -> Await.result(last, Duration.Inf),
        "catalog_bytes" -> treeSize(catRoot)._2,
        "layer_counts" -> layerCounts.toMap)
    }
    (ops, checks)
  }

  /** Tables whose per-batch versions the checks read back. */
  private val versioned = Seq("overview", "officers", "filing_history", "company_details",
    "fundamentals_data", "trading_data").map(t => s"companies.bronze.$t") :+
    "companies.silver.company_master"

  /** Land one staged delivery in the raw zone (outside the timed region): a
    * new Companies House ingestion-date directory, and YFinance CSVs that
    * replace the previous delivery's. */
  private def deliver(batch: Path, raw: Path): Unit = {
    val chSrc = batch.resolve("companies_house")
    val chDst = raw.resolve("companies_house")
    Files.createDirectories(chDst)
    Files.list(chSrc).iterator().asScala.foreach(d =>
      Files.move(d, chDst.resolve(d.getFileName.toString), StandardCopyOption.ATOMIC_MOVE))
    Files.list(batch.resolve("yfinance")).iterator().asScala.foreach { t =>
      val dst = raw.resolve("yfinance").resolve(t.getFileName.toString)
      Files.createDirectories(dst)
      Files.list(dst).iterator().asScala.foreach(Files.delete)
      Files.list(t).iterator().asScala.foreach(f =>
        Files.move(f, dst.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE))
    }
  }

  private def treeSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  private val dateKey = Map("company_details" -> None,
    "fundamentals_data" -> Some("quarter_end_date"), "trading_data" -> Some("date"))

  /** Measured outcomes of one batch, checked against the generator's
    * expectations by `run.py`: bronze rows, rows per DQ rule, rows passing
    * the silver gates, company-master rows. */
  private def batchChecks(spark: SparkSession, cat: TableCatalog, silver: SilverConf,
      k: Int, version: Map[String, String]): Map[String, Any] = {
    def at(n: String) = cat.readVersion(spark, n, version(n))
    def read(t: String) = at(s"companies.bronze.$t")
    val master = "companies.silver.company_master"
    val rows = counts(Seq("overview", "officers", "filing_history").map(t => s"companies.bronze.$t")
      :+ master, at)
    val overviewCompanies = read("overview").select(countDistinct("company_number")).head().getLong(0)
    val tables = silver.tables.map { t =>
      val df = read(t.name)
      val numeric = df.schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).map(_.name)
      val dateNull: Column = dateKey(t.name).map(c => col(c).isNull).getOrElse(lit(false))
      val keysOk = t.businessKeys.map(c => col(c).isNotNull).reduce(_ && _)
      val negative = numeric.map(c => coalesce(col(c) < 0, lit(false))).reduce(_ || _)
      val row = df.agg(count(lit(1)),
        count(when(dateNull, 1)),
        count(when(!dateNull && col("company_number").isNull, 1)),
        count(when(keysOk && negative, 1))).head()
      val passing = Quality.nonNegativeNumerics(Quality.requireKeys(df, t.businessKeys)).count()
      t.name -> Map("bronze_rows" -> row.getLong(0),
        "dq_dropped" -> Map("malformed" -> row.getLong(1), "null_key" -> row.getLong(2),
          "negative_numeric" -> row.getLong(3)),
        "passing_rows" -> passing)
    }.toMap
    Map("batch" -> k, "tables" -> tables, "overview_companies" -> overviewCompanies,
      "bronze_ch" -> Seq("overview", "officers", "filing_history")
        .map(t => t -> rows(s"companies.bronze.$t")).toMap,
      "company_master_rows" -> rows(master))
  }

  /** Row counts of several tables in one job. */
  private def counts(names: Seq[String], read: String => DataFrame): Map[String, Long] = {
    val got = names.map(n => read(n).select(lit(n).as("t"))).reduce(_ union _)
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    names.map(n => n -> got.getOrElse(n, 0L)).toMap
  }

  /** Final-state outcomes: SCD2 rows opened / closed per batch date, rows
    * and current rows per table, keys without exactly one current row, and
    * gold row counts. */
  private def finalChecks(spark: SparkSession, cat: TableCatalog,
      silver: SilverConf): Map[String, Any] = {
    val scd = silver.tables.map { t =>
      val df = cat.read(spark, s"companies.silver.${t.name}")
      val groups = df.groupBy(col("effective_from").cast("string"),
        col("effective_to").cast("string"), col("is_current")).count().collect().toSeq
      def byDate(i: Int) = groups.filterNot(_.isNullAt(i))
        .groupMapReduce(_.getString(i))(_.getLong(3))(_ + _)
      val badKeys = df.groupBy(t.businessKeys.map(col): _*)
        .agg(sum(when(col("is_current") === true, 1).otherwise(0)).as("n"))
        .where(col("n") =!= 1).count()
      t.name -> Map("rows" -> groups.map(_.getLong(3)).sum,
        "current_rows" -> groups.filter(r => !r.isNullAt(2) && r.getBoolean(2)).map(_.getLong(3)).sum,
        "keys_without_one_current" -> badKeys,
        "opened_by_date" -> byDate(0), "closed_by_date" -> byDate(1))
    }.toMap
    val gold = counts(Seq("company_master", "dim_company_details", "fact_trading",
      "fact_fundamentals").map(t => s"companies.gold.$t"), cat.read(spark, _))
      .map { case (n, c) => n.stripPrefix("companies.gold.") -> c }
    Map("scd" -> scd, "gold_rows" -> gold)
  }

  // -- output ----------------------------------------------------------------

  private def writeSpans(r: Recorder, path: Path): Unit = {
    val lines = r.spans.map { s =>
      mapper.writeValueAsString(toJava(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> r.selfSeconds(s), "compiles" -> s.compiles,
        "compile_s" -> s.compileNs / 1e9)))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}
