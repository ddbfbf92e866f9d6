package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_date}

import graft.operators.Kpi
import graft.pipeline.{BatchTracker, Pipeline, RunLog}
import graft.sinks.KeyValueSink
import graft.sources.{Csv, FactStore}

/** Daily CSV deliveries pushed one date at a time through
  * `Pipeline.runTracked`, the reference's own unit of work.
  *
  * Each delivery has the density of the sf0.1 fixture mapped to the
  * pipeline's tables (FIXTURES.md §3): 62 orders a date, 4 items an order,
  * 20,000 products in 6 categories, 15,000 users and a third of the items
  * returned. Ship dates are spread as widely as the fixture's (~240
  * distinct ship dates among a date's ~250 items) but always after the
  * order date: the fixture draws them independently of the order date, and
  * an item that ships on a date whose batch has already run is never
  * counted into that date's incremental `daily_kpis` row, so the full
  * recompute check would fail on data no real delivery holds. So one daily
  * batch touches ~240 `items_daily` date partitions, and the FactStore's
  * per-partition commits and renames dominate it. Orders per date and
  * items per order are fixed, so batches are alike and the median is
  * steady; the seed picks the dates and every value.
  */
object PipelineDaily {
  val OrdersPerDate = 62
  val ItemsPerOrder = 4
  val Products = 20000
  val Categories = 6
  val Users = 15000
  /** The fixture's order and ship dates both span ~2,500 days. */
  val RangeStart = LocalDate.of(1995, 1, 1)
  val RangeDays = 2500
  /** Nominal seconds of one warm batch, a constant: a run measures
    * `--seconds` / NominalBatchS batches however fast they actually go, so
    * the measured batches sit at the same positions on the JIT warm-up
    * slope in every run of every version of the engine.
    */
  val NominalBatchS = 2.5
  def warmBatches(seconds: Int): Int = math.max(1, math.round(seconds / NominalBatchS).toInt)
  /** Unmeasured batches between the cold one and the measured ones: the
    * JIT settles over the first batches; the measured batches sit at fixed
    * positions after it.
    */
  val WarmupBatches = 2

  final case class Delivery(dates: Seq[String], products: String,
      orders: Map[String, String], items: Map[String, String])

  /** Deliveries a run stages: the cold batch, the warm-up batches and the
    * measured ones. A traced run stages as many measured ones again: it
    * alternates traced replays with untraced `runTracked` batches.
    */
  def datesStaged(seconds: Int, traced: Boolean): Int =
    1 + WarmupBatches + warmBatches(seconds) * (if (traced) 2 else 1)

  def generate(seed: Long, dates: Int): Delivery = {
    val rnd = new java.util.SplittableRandom(seed)
    def money(lo: Int, hi: Int): String = {
      val cents = lo * 100 + rnd.nextInt((hi - lo) * 100)
      f"${cents / 100}%d.${cents % 100}%02d"
    }
    def ts(d: LocalDate): String =
      f"$d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
    val products = new StringBuilder("id,sku,cost,category,retail_price\n")
    val prices = (1 to Products).map { id =>
      val retail = money(5, 2000)
      val cost = f"${retail.toDouble * 0.6}%.2f"
      products ++= s"$id,SKU-$id,$cost,category_${rnd.nextInt(Categories)},$retail\n"
      retail.toDouble
    }
    // the window does not depend on `dates`, so a traced and an untraced
    // run at one seed share their first deliveries
    val start = RangeStart.plusDays(rnd.nextInt(RangeDays / 2))
    val days = (0 until dates).map(start.plusDays(_))
    val orders = Map.newBuilder[String, String]
    val items = Map.newBuilder[String, String]
    days.zipWithIndex.foreach { case (day, di) =>
      val o = new StringBuilder("order_id,user_id,created_at,returned_at\n")
      val it = new StringBuilder("order_id,product_id,sale_price,returned_at,created_at\n")
      (0 until OrdersPerDate).foreach { k =>
        val orderId = 1000000L + di * 1000L + k
        o ++= s"$orderId,${rnd.nextInt(Users)},${ts(day)},\n"
        (0 until ItemsPerOrder).foreach { _ =>
          val pid = 1 + rnd.nextInt(Products)
          val ship = day.plusDays(1 + rnd.nextInt(RangeDays))
          val price = f"${prices(pid - 1) * (0.9 + rnd.nextInt(11) / 100.0)}%.2f"
          val itemReturned = if (rnd.nextInt(3) == 0) ts(ship) else ""
          it ++= s"$orderId,$pid,$price,$itemReturned,${ts(ship)}\n"
        }
      }
      orders += day.toString -> o.toString
      items += day.toString -> it.toString
    }
    Delivery(days.map(_.toString), products.toString, orders.result(), items.result())
  }

  /** Writes the deliveries as raw CSV drops under `root` (the pipeline's
    * input contract: raw/products, raw/orders/<date>, raw/order_items/<date>).
    */
  def stage(d: Delivery, root: Path): Unit = {
    def put(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes("UTF-8"))
    }
    put("raw/products/products.csv", d.products)
    d.dates.foreach { date =>
      put(s"raw/orders/$date/orders_part0.csv", d.orders(date))
      put(s"raw/order_items/$date/order_items_part0.csv", d.items(date))
    }
  }

  /** Per-batch numbers of the traced replay. */
  final case class LayerBatch(factFiles: Long, factParquet: Long, kvFiles: Long, rowsOut: Long)

  /** `runTracked`'s stage sequence (poll → trigger mark → validate →
    * promote → transform → archive → outcome), replayed through the same
    * public functions with a span around each call. The transform is
    * `Pipeline.transform`'s body with its two KPI frames counted before
    * they are written rather than after, so the KPI store read and the sink
    * write land in separate spans; the frames are persisted either way, so
    * the engine does the same work.
    */
  def replay(spark: SparkSession, root: String, date: String, tr: Tracer): (Pipeline.Result, LayerBatch) =
    tr.span("pipeline.batch", date) {
      val st = tr.span("pipeline.tracker", date)(BatchTracker.recordPoll(spark, root, date))
      if (st.triggered || !st.complete ||
          !tr.span("pipeline.tracker", date)(BatchTracker.tryMarkTriggered(spark, root, date)))
        (Pipeline.AlreadyTriggered(date), LayerBatch(0, 0, 0, 0))
      else processReplay(spark, root, date, st, tr)
    }

  private def processReplay(spark: SparkSession, root: String, date: String,
      st: BatchTracker.BatchState, tr: Tracer): (Pipeline.Result, LayerBatch) = {
    val files = Pipeline.BatchFiles(st.productsKeys, st.ordersKeys, st.itemsKeys)
    val log = new RunLog(spark, root, "pipeline")
    log.info(s"batch $date: run started")
    val report = tr.span("pipeline.validate", date)(Pipeline.validate(spark, root, files))
    if (!report.ok) throw new IllegalStateException(s"batch $date rejected: ${report.rejections}")
    val rawPrefix = s"${Csv.stripScheme(root)}/raw/"
    def rel(f: String) = Csv.stripScheme(f).stripPrefix(rawPrefix)
    val rawFiles = files.all.filter(f => Csv.stripScheme(f).startsWith(rawPrefix))
    tr.span("pipeline.promote", date)(rawFiles.foreach(
      f => Csv.moveFile(spark, s"$root/raw", s"$root/validated", f)))
    val layer = tr.span("pipeline.transform", date)(
      transform(spark, root, date, files.orders.map(f => s"$root/validated/${rel(f)}"), tr))
    tr.span("pipeline.archive", date)((files.orders ++ files.items)
      .map(f => s"$root/validated/${rel(f)}")
      .foreach(f => Csv.moveFile(spark, s"$root/validated", s"$root/processed", f)))
    tr.span("pipeline.tracker", date)(BatchTracker.recordOutcome(spark, root, date, "SUCCEEDED"))
    log.info(s"batch $date: succeeded, archived")
    log.flush()
    (Pipeline.Succeeded(date, layer.rowsOut, 0L), layer)
  }

  private def transform(spark: SparkSession, root: String, date: String,
      newOrdersPaths: Seq[String], tr: Tracer): LayerBatch = {
    val newDates = tr.span("pipeline.new_dates", date)(
      Csv.read(spark, Csv.ordersSchema, newOrdersPaths)
        .select(to_date(col("created_at")).as("d")).distinct()
        .collect().map(_.getDate(0)).toSeq)
    def validated(kind: String, schema: org.apache.spark.sql.types.StructType) =
      Csv.read(spark, schema, Csv.listCsv(spark, s"$root/validated/$kind"))
    val products = validated("products", Csv.productsSchema)
    val orders = validated("orders", Csv.ordersSchema)
    val items = validated("order_items", Csv.orderItemsSchema)
    val factsDir = Paths.get(Csv.stripScheme(root), "facts")
    val (f0, p0) = (Proc.fileCount(factsDir), parquetCount(factsDir))
    tr.span("sources.factstore_upsert", date)(FactStore.upsertBatch(date,
      Kpi.consolidated(products, orders, items), Kpi.ordersEnriched(orders, items),
      Kpi.itemsDaily(items), s"$root/facts"))
    val (f1, p1) = (Proc.fileCount(factsDir), parquetCount(factsDir))
    val category = Kpi.categoryKpisFromStore(spark, s"$root/facts", newDates)
      .withColumn("date_key", col("order_date")).drop("order_date").persist()
    val daily = Kpi.orderKpisFromStore(spark, s"$root/facts", newDates).persist()
    try {
      val (c, d) = tr.span("operators.kpi_store_read", date)((category.count(), daily.count()))
      val kpis = Paths.get(Csv.stripScheme(root), "kpis")
      val k0 = Proc.fileCount(kpis)
      tr.span("sinks.kv_upsert", date) {
        KeyValueSink.upsertPartitioned(category, s"$root/kpis/category_kpis", "date_key")
        KeyValueSink.upsertPartitioned(daily, s"$root/kpis/daily_kpis", "date_key")
      }
      LayerBatch(f1 - f0, p1 - p0, Proc.fileCount(kpis) - k0, c + d)
    } finally {
      category.unpersist(false)
      daily.unpersist(false)
    }
  }

  private def parquetCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p).iterator()
      var n = 0L
      while (it.hasNext) if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
      n
    }

  /** The KPI tables under `root`, columns in a fixed order and the date
    * key as text, so the pipeline's partitioned output and a recompute
    * compare by digest.
    */
  private def canonical(category: DataFrame, daily: DataFrame): (DataFrame, DataFrame) = {
    def norm(df: DataFrame) =
      df.withColumn("date_key", col("date_key").cast("string"))
        .select(df.columns.sorted.map(col).toIndexedSeq: _*)
    (norm(category), norm(daily))
  }

  def kpiTables(spark: SparkSession, root: String): (String, String) = {
    val (c, d) = canonical(KeyValueSink.readTable(spark, s"$root/kpis/category_kpis"),
      KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis"))
    (Digest.of(c), Digest.of(d))
  }

  /** Full recompute (`Kpi.categoryKpis` / `Kpi.orderKpis`) over every
    * delivery the pipeline archived.
    */
  def recompute(spark: SparkSession, root: String): (String, String) = {
    val products = Csv.read(spark, Csv.productsSchema, Csv.listCsv(spark, s"$root/validated/products"))
    val orders = Csv.read(spark, Csv.ordersSchema, Csv.listCsv(spark, s"$root/processed/orders"))
    val items = Csv.read(spark, Csv.orderItemsSchema, Csv.listCsv(spark, s"$root/processed/order_items"))
    val (c, d) = canonical(
      Kpi.categoryKpis(Kpi.consolidated(products, orders, items))
        .withColumnRenamed("order_date", "date_key"),
      Kpi.orderKpis(orders, items))
    (Digest.of(c), Digest.of(d))
  }

  final case class Staged(spark: SparkSession, root: Path) extends Prepared

  /** Session start plus generating and staging the deliveries. */
  def setup(ctx: Ctx): Staged = {
    val spark = Session.start(ctx.cores, ctx.stageDir.resolve("local").toString, 0L)
    ctx.tracer.attach(spark)
    val root = ctx.stageDir.resolve("pipeline")
    stage(generate(ctx.seed, datesStaged(ctx.seconds, ctx.tracer.enabled)), root)
    Staged(spark, root)
  }

  def run(ctx: Ctx, staged: Staged, setups: Seq[Double]): Outcome = {
    val tr = ctx.tracer
    val delivery = generate(ctx.seed, datesStaged(ctx.seconds, tr.enabled))
    val Staged(spark, root) = staged
    ctx.conf = Session.effectiveConf(spark)
    val rootS = root.toString

    // (position in the chain, seconds) of the runTracked and replayed batches
    val lat = ArrayBuffer.empty[(Int, Double)]
    val replayLat = ArrayBuffer.empty[(Int, Double)]
    val filesPerBatch = ArrayBuffer.empty[Long]
    val layers = ArrayBuffer.empty[LayerBatch]
    var failed = 0
    // A traced run alternates, on the one root, a traced replay (even
    // positions, the cold batch first among them, so its counters are those
    // of the first batch in the JVM) with an untraced runTracked batch, the
    // baseline for trace.overhead_s. The final kpis/ check then covers the
    // replay's rows as well as runTracked's.
    def step(i: Int): Unit = {
      val date = delivery.dates(i)
      val replayed = tr.enabled && i % 2 == 0
      val f0 = Proc.fileCount(root)
      val s = System.nanoTime()
      val r =
        if (!replayed) Pipeline.runTracked(spark, rootS, date)
        else {
          val (r, layer) = replay(spark, rootS, date, tr)
          layers += layer
          r
        }
      (if (replayed) replayLat else lat) += i -> (System.nanoTime() - s) / 1e9
      filesPerBatch += Proc.fileCount(root) - f0
      if (!r.isInstanceOf[Pipeline.Succeeded]) {
        failed += 1
        ctx.note(s"${if (replayed) "replayed " else ""}batch $date returned $r, expected Succeeded")
      }
    }
    // one cold batch, unmeasured warm-up batches, then a fixed number of
    // measured warm batches
    val first = WarmupBatches + 1
    val batches = delivery.dates.size
    (0 until batches).foreach(step)
    val again = delivery.dates(new java.util.SplittableRandom(ctx.seed ^ 0x5eedL).nextInt(batches))
    Pipeline.runTracked(spark, rootS, again) match {
      case _: Pipeline.AlreadyTriggered => ()
      case r =>
        failed += 1
        ctx.note(s"re-trigger of $again returned $r, expected AlreadyTriggered")
    }
    val got = kpiTables(spark, rootS)
    val want = recompute(spark, rootS)
    if (got != want) {
      failed += 1
      ctx.note(s"kpis/ tables differ from the full recompute: got $got, want $want")
    }
    val attempted = batches + 2
    val warm = lat.filter(_._1 >= first).map(_._2).toSeq
    val t = Stats.tail(warm)
    ctx.note(f"batches=$batches warm tail=p${t.percentile}%.1f of n=${t.n} " +
      s"files_per_batch=${filesPerBatch.drop(first).mkString(",")} " +
      s"setups_s=${setups.map(x => f"$x%.2f").mkString(",")} " +
      s"latencies_s=${(lat ++ replayLat).sortBy(_._1).map { case (i, x) =>
        f"$x%.2f${if (replayLat.exists(_._1 == i)) "t" else ""}" }.mkString(",")}")

    // a batch is one operation, so the warm unit and the warm operation
    // medians are the same number here
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("cold_s", lat.head._2, "s"),
      Metric("warm_s", Stats.median(warm), "s"),
      Metric("op_p50_s", Stats.median(warm), "s"),
      Metric("op_tail_s", t.value, "s"))

    val layerMetrics =
      if (!tr.enabled) Nil
      else {
        tr.drain(spark)
        // replays in chain order; the measured ones come after the warm-up
        val allBatches = tr.all.filter(_.name == "pipeline.batch")
        val counted = replayLat.indices.filter(k => replayLat(k)._1 >= first)
        val batchSpans = counted.map(allBatches)
        def byName(b: Span, name: String): Seq[Span] =
          tr.all.filter(s => s.req == b.req && s.name == name && s.start >= b.start && s.end <= b.end)
        def med(f: Span => Double): Double = Stats.median(batchSpans.map(f))
        def secs(name: String)(b: Span) = byName(b, name).map(_.dur).sum / 1e9
        def work(b: Span) = tr.work(b)
        val lb = counted.map(layers)
        val upserts = batchSpans.flatMap(byName(_, "sources.factstore_upsert"))
        val reads = batchSpans.flatMap(byName(_, "operators.kpi_store_read"))
        val replayWarm = counted.map(replayLat(_)._2)
        ctx.note(f"factstore share of a replayed batch: " +
          f"${med(secs("sources.factstore_upsert")) / Stats.median(replayWarm)}%.2f")
        Seq(
          Metric("pipeline.tracker_s", med(secs("pipeline.tracker")), "s"),
          Metric("pipeline.validate_s", med(secs("pipeline.validate")), "s"),
          Metric("pipeline.promote_s", med(secs("pipeline.promote")), "s"),
          Metric("pipeline.archive_s", med(secs("pipeline.archive")), "s"),
          Metric("pipeline.files_per_batch",
            Stats.median(counted.map(k => filesPerBatch(replayLat(k)._1).toDouble)), "count"),
          Metric("sources.factstore_upsert_s", med(secs("sources.factstore_upsert")), "s"),
          Metric("sources.factstore_driver_s", Stats.median(upserts.map(tr.driverNs(_) / 1e9)), "s"),
          Metric("sources.factstore_files_written", Stats.median(lb.map(_.factFiles.toDouble)), "count"),
          Metric("sources.factstore_rows_per_file", Stats.median(upserts.zip(lb).map { case (s, l) =>
            tr.work(s).recordsWritten.toDouble / math.max(1L, l.factParquet) }), "rows/file"),
          Metric("operators.kpi_store_read_s", med(secs("operators.kpi_store_read")), "s"),
          Metric("operators.kpi_rows_read_per_row_out", Stats.median(reads.zip(lb).map { case (s, l) =>
            tr.work(s).recordsRead.toDouble / math.max(1L, l.rowsOut) }), "ratio"),
          Metric("sinks.kv_upsert_s", med(secs("sinks.kv_upsert")), "s"),
          Metric("sinks.kv_files_written", Stats.median(lb.map(_.kvFiles.toDouble)), "count"),
          Metric("engine.driver_s", med(b => tr.driverNs(b) / 1e9), "s"),
          Metric("engine.execute_s", med(b => (b.dur - tr.driverNs(b)) / 1e9), "s")) ++
          Layers.engine(batchSpans.map(work), work(allBatches.head)) ++
          Seq(Metric("trace.overhead_s", Stats.median(replayWarm) - Stats.median(warm), "s"))
      }
    spark.stop()
    Outcome(failed == 0, attempted, failed, e2e, layerMetrics)
  }
}
