package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.json4s._

import graft.{FakeRestCatalog, SparkSpec, Tables}
import graft.catalog.{IcebergTableReader, RestCatalogClient}
import graft.catalog.RestCatalogClient.{CatalogAuth, Settings}
import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig
import graft.streaming.Delivery.RetryPolicy

/** The idempotent-sink contract of every registration target behind
  * [[IngestLoop]], as one table: a row per target, two cases per row.
  *
  *  - A failure between a batch's write and its register step: the
  *    retried batch registers every file exactly once and loses no row.
  *    Append targets also register the failed attempt's files (their
  *    storage walk finds them); CDC targets commit only the retry's
  *    files, so their rows land exactly once.
  *  - A committed batch replayed adds nothing. Append targets replay
  *    its register step, which dedups on path (a replay's re-written
  *    data is the at-least-once duplicate they accept); CDC targets
  *    replay the whole batch, whose epoch they find on their chain. */
class IngestRegistrarSpec extends SparkSpec {
  private implicit val formats: Formats = DefaultFormats

  private val fastRetry = RetryPolicy(maxAttempts = 3, initialBackoffMs = 1, sleep = _ => ())

  /** A target in a fresh directory. `registered`: the paths it holds,
    * repeats kept. `unregistered`: files it must hold but does not.
    * `read`: the rows readable through it. `cdc`: an epoch-checked
    * target, whose rows land exactly once, not at least once. */
  private case class Target(commit: IngestLoop.Commit, registered: () => Seq[String],
                            unregistered: () => Seq[String], read: () => DataFrame,
                            cdc: Boolean)

  private def withCatalog[T](base: String)(f: (FakeRestCatalog, RestCatalogClient) => T): T = {
    val fake = new FakeRestCatalog
    fake.warehouseDir = s"file://$base/warehouse"
    try f(fake, client(fake)) finally fake.stop()
  }

  private def client(fake: FakeRestCatalog, count: AtomicInteger = new AtomicInteger) =
    new RestCatalogClient(Settings(fake.uri, warehouse = fake.warehouseDir,
        auth = CatalogAuth(clientId = "svc", clientSecret = "hunter2"), retry = fastRetry)) {
      override def listDataFiles(namespace: String, table: String): Seq[String] = {
        count.incrementAndGet()
        super.listDataFiles(namespace, table)
      }
    }

  private def sink(base: String) =
    SinkConfig(base, "events", tsColumn = "ts", granularity = "daily")

  private def onStorage(base: String): Seq[String] =
    Recovery.dataFiles(spark, PartitionedParquetSink.tablePath(sink(base))).map(_._1)

  private def iceberg(loc: () => String, commit: IngestLoop.Commit) =
    Target(commit,
      () => IcebergTableReader.scanState(spark, loc())._1.map(_.path), () => Nil,
      () => IcebergTableReader.read(spark, loc()), cdc = true)

  /** (name, target builder over (base dir, checkpoint, catalog client)). */
  private val targets: Seq[(String, (String, String, RestCatalogClient) => Target)] = Seq(
    "manifest" -> { (base, _, _) =>
      val manifest = s"$base/manifest"
      def registered = Recovery.readManifest(spark, manifest).collect().map(_.getString(0)).toSeq
      Target(StreamingIngest.manifestCommit(sink(base), manifest), () => registered,
        () => onStorage(base).diff(registered), () => spark.read.parquet(registered: _*),
        cdc = false)
    },
    "rest catalog" -> { (base, _, client) =>
      Target(Delivery.catalogCommit(sink(base), client, "otel", "events"),
        () => client.listDataFiles("otel", "events"),
        () => onStorage(base).diff(client.listDataFiles("otel", "events")),
        () => spark.read.parquet(client.listDataFiles("otel", "events"): _*), cdc = false)
    },
    "cdc local" -> { (base, chk, _) =>
      iceberg(() => s"$base/cdc", IcebergCdcSink.commit(s"$base/cdc", Seq("event_id"),
        None, Some(IcebergCdcSink.streamIdOf(chk))))
    },
    "cdc catalog" -> { (base, chk, client) =>
      iceberg(() => client.loadTable("otel", "cdc").get.location,
        IcebergCdcSink.commitCatalog(client, "otel", "cdc", Seq("event_id"),
          Some(IcebergCdcSink.streamIdOf(chk))))
    })

  targets.foreach { case (name, build) =>
    test(s"registrar table: $name") {
      val base = tempDir("graft-registrar")
      val source = Tables.events(spark, sf).limit(200)
        .select("event_id", "ts", "user_id", "event_type", "value")
      source.write.parquet(s"$base/src")
      val n = source.count()
      withCatalog(base) { (_, client) =>
        val chk = s"$base/chk"
        val t = build(base, chk, client)
        val registers = ArrayBuffer.empty[IngestLoop.Register]
        val failures = new AtomicInteger(1)
        val retried = new AtomicInteger(0)
        IngestLoop.start(StreamingIngest.readEvents(spark, s"$base/src", source.schema),
          chk, (batch, id) => { val r = t.commit(batch, id); registers += r; r },
          policy = fastRetry, onRetry = (_, _) => { retried.incrementAndGet(); () },
          beforeRegister = _ =>
            if (failures.getAndDecrement() > 0) throw new java.io.IOException("connection reset"))
          .awaitTermination()

        // case 1: the failed attempt was retried; every file registered once
        assert(retried.get() === 1 && registers.size === 2)
        val registered = t.registered()
        assert(registered.nonEmpty && registered.size === registered.distinct.size, registered)
        assert(t.unregistered().isEmpty, t.unregistered())
        val rows = t.read().select(source.columns.map(org.apache.spark.sql.functions.col): _*)
        assert(rows.distinct().count() === n)
        if (t.cdc) assert(rows.count() === n) else assert(rows.count() >= n)

        // case 2: the committed batch replayed adds nothing
        val replay = if (t.cdc) t.commit(spark.read.parquet(s"$base/src"), 0L) else registers.last
        assert(replay() === Nil)
        assert(t.registered().sorted === registered.sorted)
      }
    }
  }

  test("rest catalog: steady batches read no catalog file list and run no listing job") {
    val base = tempDir("graft-registrar-steady")
    val batch = Tables.events(spark, sf).limit(400)
    (0 until 4).foreach(i => batch.where(s"event_id % 4 = $i").coalesce(1)
      .write.mode("append").parquet(s"$base/src"))
    withCatalog(base) { (fake, _) =>
      val listings = new AtomicInteger(0)
      val catalog = client(fake, listings)
      val jobs = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
          ()
        }
      }
      def run(): Unit = Delivery.ingestWithCatalogRetrying(
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$base/src"), sink(base), s"$base/chk", catalog, "otel", "events")
        .awaitTermination()
      spark.sparkContext.addSparkListener(listener)
      try run() finally {
        org.apache.spark.TestListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val descs = jobs.asScala.toSeq
      assert(descs.filter(_.endsWith(": write")).distinct.size === 4, descs.mkString("\n"))
      assert(!descs.exists(_.startsWith("Listing leaf files")), descs.mkString("\n"))
      // the registered set is read from the catalog once, on the first batch
      assert(listings.get() === 1)

      def registered = catalog.listDataFiles("otel", "events")
      assert(registered.sorted === onStorage(base).sorted)
      assert(registered.size === registered.distinct.size)
      assert(spark.read.parquet(registered: _*).count() === batch.count())
      // the table got the sink's partition columns as its identity spec
      val spec = (fake.tables(("otel", "events")).specJson \ "fields").extract[Seq[JValue]]
      assert(spec.map(f => (f \ "name").extract[String]) === Seq("year", "month", "day"))

      // a restarted query registers exactly the new files
      batch.limit(100).coalesce(1).write.mode("append").parquet(s"$base/src")
      run()
      assert(registered.sorted === onStorage(base).sorted)
      assert(registered.size === registered.distinct.size, "a path was registered twice")
    }
  }
}
