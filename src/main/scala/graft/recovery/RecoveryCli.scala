package graft.recovery

import java.time.{Instant, LocalDate, OffsetDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.PartitionedParquetSink.SinkConfig

/** User-facing recovery CLI — parity with the reference's
  * `cmd/recovery/main.go` (flags, dry-run, result report), over the
  * [[Recovery]] library instead of an S3/REST stack:
  *
  *   scan        list orphaned parquet files (storage vs manifest)
  *   reconcile   register orphans into the manifest (idempotent)
  *   prune       drop manifest entries whose backing file is gone
  *   repartition rewrite a table at a different partition granularity
  *
  * Shared flags mirror main.go:140-146: `--dry-run` reports what WOULD
  * happen and writes nothing; `--after`/`--before` filter candidate
  * files by the partition time encoded in their path (RFC3339 or
  * YYYY-MM-DD, like parseTimeFlag at main.go:356-372); `--tables`
  * restricts to specific table names. Storage/credential flags have no
  * sandbox equivalent — the path IS the storage config here
  * (`--base-path` accepts any Hadoop-resolvable URI, so s3a:// works
  * where the classpath provides it).
  *
  * The class is a thin arg-parse + report layer: every operation calls
  * the same [[Recovery]] entry points the tests and pipelines use, and
  * `run` returns an exit code instead of calling System.exit so specs
  * can drive it in-process.
  */
object RecoveryCli {

  case class Args(cmd: String,
                  basePath: String = "",
                  tables: Seq[String] = Nil,
                  manifest: String = "",
                  catalogUri: String = "",
                  catalogWarehouse: String = "",
                  catalogToken: String = "",
                  namespace: String = "default",
                  tsColumn: String = "ts",
                  fromGranularity: String = "hourly",
                  toGranularity: String = "daily",
                  after: Option[Instant] = None,
                  before: Option[Instant] = None,
                  dryRun: Boolean = false,
                  distributed: Boolean = false,
                  verbose: Boolean = false)

  /** RFC3339 or date-only (UTC midnight), like the reference's
    * parseTimeFlag; None for empty. */
  private[graft] def parseTimeFlag(v: String): Option[Instant] = {
    if (v.isEmpty) None
    else try Some(OffsetDateTime.parse(v).toInstant)
    catch {
      case _: java.time.format.DateTimeParseException =>
        try Some(LocalDate.parse(v).atStartOfDay(ZoneOffset.UTC).toInstant)
        catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"invalid time format '$v': expected RFC3339 " +
                "(e.g. 2024-01-15T00:00:00Z) or date (e.g. 2024-01-15)")
        }
    }
  }

  /** Partition time from a sink-layout path
    * (.../year=2024/month=01[/day=15[/hour=07]]/...), UTC; None when the
    * path carries no partition values (then after/before never exclude
    * it — same never-prune-unknowns stance as the zone maps). */
  private[graft] def pathPartitionTime(path: String): Option[Instant] = {
    def seg(name: String): Option[Int] =
      s"$name=(\\d+)".r.findFirstMatchIn(path).map(_.group(1).toInt)
    seg("year").map { y =>
      LocalDate.of(y, seg("month").getOrElse(1), seg("day").getOrElse(1))
        .atStartOfDay(ZoneOffset.UTC)
        .plusHours(seg("hour").getOrElse(0).toLong)
        .toInstant
    }
  }

  private def parse(argv: Array[String]): Args = {
    require(argv.nonEmpty, usage)
    val cmd = argv(0)
    require(Set("scan", "reconcile", "prune", "repartition").contains(cmd),
      s"unknown subcommand '$cmd'\n$usage")
    var a = Args(cmd)
    var i = 1
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"$flag needs a value")
      i += 1; argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--base-path"        => a = a.copy(basePath = value("--base-path"))
        case "--tables"           => a = a.copy(tables = value("--tables").split(",").toSeq)
        case "--manifest"         => a = a.copy(manifest = value("--manifest"))
        case "--catalog-uri"      => a = a.copy(catalogUri = value("--catalog-uri"))
        case "--catalog-warehouse" => a = a.copy(catalogWarehouse = value("--catalog-warehouse"))
        case "--catalog-token"    => a = a.copy(catalogToken = value("--catalog-token"))
        case "--namespace"        => a = a.copy(namespace = value("--namespace"))
        case "--ts-column"        => a = a.copy(tsColumn = value("--ts-column"))
        case "--from-granularity" => a = a.copy(fromGranularity = value("--from-granularity"))
        case "--to-granularity"   => a = a.copy(toGranularity = value("--to-granularity"))
        case "--after"            => a = a.copy(after = parseTimeFlag(value("--after")))
        case "--before"           => a = a.copy(before = parseTimeFlag(value("--before")))
        case "--dry-run"          => a = a.copy(dryRun = true)
        case "--distributed"      => a = a.copy(distributed = true)
        case "--verbose"          => a = a.copy(verbose = true)
        case other => throw new IllegalArgumentException(s"unknown flag '$other'\n$usage")
      }
      i += 1
    }
    require(a.basePath.nonEmpty, s"--base-path is required\n$usage")
    a
  }

  val usage: String =
    """graft-recovery <scan|reconcile|prune|repartition> --base-path PATH [flags]
      |
      |  scan        --manifest PATH [--tables a,b] [--after T] [--before T] [--distributed]
      |  reconcile   --manifest PATH [--tables a,b] [--after T] [--before T] [--ts-column C] [--dry-run] [--distributed]
      |              (files whose rows straddle their partition are auto-repaired:
      |               split at the table granularity, splits registered, original dropped)
      |  prune       --manifest PATH [--tables a,b] [--dry-run]
      |  repartition --tables a,b --ts-column C --from-granularity G --to-granularity G [--dry-run]
      |
      |scan/reconcile work against the local file manifest (--manifest)
      |OR an Iceberg REST catalog (the reference CLI's target):
      |  --catalog-uri URI [--catalog-warehouse W] [--catalog-token T] [--namespace NS]
      |
      |Times accept RFC3339 (2024-01-15T00:00:00Z) or YYYY-MM-DD (UTC midnight).
      |""".stripMargin

  /** Tables under basePath: explicit `--tables`, else every child
    * directory holding parquet (the reference recovers "all tables" by
    * listing the namespace). */
  private def resolveTables(spark: SparkSession, a: Args): Seq[String] =
    if (a.tables.nonEmpty) a.tables
    else {
      val p = new org.apache.hadoop.fs.Path(a.basePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(_.startsWith("_")).toSeq.sorted
    }

  private def timeFiltered(df: DataFrame, a: Args): DataFrame = {
    val times = udf((p: String) =>
      pathPartitionTime(p).map(i => new java.sql.Timestamp(i.toEpochMilli)).orNull)
    var out = df.withColumn("_pt", times(col("file_path")))
    a.after.foreach(t => out = out.filter(col("_pt").isNull ||
      col("_pt") >= lit(new java.sql.Timestamp(t.toEpochMilli))))
    a.before.foreach(t => out = out.filter(col("_pt").isNull ||
      col("_pt") < lit(new java.sql.Timestamp(t.toEpochMilli))))
    out.drop("_pt")
  }

  /** Run one CLI invocation; returns a process exit code. `out` receives
    * the report (injectable so specs can capture it). */
  def run(spark: SparkSession, argv: Array[String],
          out: String => Unit = println): Int = {
    val a =
      try parse(argv)
      catch {
        case e: IllegalArgumentException => out(e.getMessage); return 2
      }
    try {
      a.cmd match {
        case "scan" | "reconcile" =>
          val tables = resolveTables(spark, a)
          require(a.manifest.nonEmpty || a.catalogUri.nonEmpty,
            s"--manifest or --catalog-uri is required\n$usage")
          // catalog mode: the registered set comes from the REST catalog
          // and reconcile commits an append snapshot — exactly the
          // reference CLI's recovery target (cmd/recovery/main.go drives
          // AppendDataFiles); manifest mode is the sandbox stand-in
          val client = if (a.catalogUri.isEmpty) None else Some(
            new graft.catalog.RestCatalogClient(
              graft.catalog.RestCatalogClient.Settings(
                uri = a.catalogUri, warehouse = a.catalogWarehouse,
                auth = graft.catalog.RestCatalogClient.CatalogAuth(
                  token = a.catalogToken)),
              spark.sparkContext.hadoopConfiguration))
          out("=== Recovery Results ===")
          var total = 0L
          var registered = 0L
          var repairedFiles = 0L
          var repairSplits = 0L
          var repairFailed = 0L
          val perTable = tables.map { t =>
            val tablePath = s"${a.basePath}/$t"
            val orphansAll = client match {
              case Some(c) =>
                import spark.implicits._
                val registered = c.listDataFiles(a.namespace, t).toDF("file_path")
                Recovery.listDataFiles(spark, tablePath)
                  .join(registered, Seq("file_path"), "left_anti")
              case None =>
                val existing = Recovery.readManifest(spark, s"${a.manifest}/$t")
                Recovery.scanOrphans(spark, tablePath, existing, a.distributed)
            }
            val orphans = timeFiltered(orphansAll, a)
            // ONE job materializes the orphan list (metadata-scale);
            // count, verbose print, and the catalog append all reuse it
            // (r6 — was a count() + up to two collect()s per table)
            val cached = orphans.localCheckpoint()
            val rows = cached.collect()
            val n = rows.length.toLong
            total += n
            if (a.verbose) rows.foreach(r =>
              out(s"  ${r.getString(0)} (${r.getLong(1)} bytes)"))
            // register only the time-window survivors (idempotent); with
            // no window this is exactly reconcile's candidate set
            // catalog mode: registration needs the table; check BEFORE
            // any repair mutates storage (the reference's repair runs
            // off a register failure, which presupposes the table)
            lazy val registrable = client.forall(
              _.loadTable(a.namespace, t).isDefined)
            if (a.cmd == "reconcile" && !a.dryRun && n > 0 && !registrable)
              out(s"  $t: not in catalog — create the table first, skipping")
            if (a.cmd == "reconcile" && !a.dryRun && n > 0 && registrable) {
              // Cross-partition AUTO-REPAIR (reconciler.go:380
              // handleCrossPartitionFile): validate the candidates the
              // way iceberg-go's tuple derivation would, and when the
              // validation raises the cross-partition error, split the
              // straddling files at the table's granularity, register
              // the SPLITS, and drop the originals. Repair failure
              // drops only the affected files from this register (they
              // stay orphans for the next run), matching the
              // reference's per-file failure accounting.
              var candidates = rows.map(r =>
                (r.getString(0), r.getLong(1))).toSeq
              val gran = candidates.map(_._1)
                .flatMap(Recovery.pathGranularity).headOption
                .getOrElse("hourly") // repartitioner.go: always hourly
              try Recovery.validateSinglePartition(spark,
                candidates.map(_._1), a.tsColumn, gran)
              catch {
                case e: Recovery.CrossPartitionException
                    if Recovery.isCrossPartitionError(e) => // go-flow parity
                  val bad = e.files.toSet
                  try {
                    val splits = Recovery.repairCrossPartitionFiles(spark,
                      a.basePath, t, e.files, a.tsColumn, gran)
                    candidates = candidates.filterNot(f => bad(f._1)) ++ splits
                    repairedFiles += bad.size
                    repairSplits += splits.size
                    out(s"  $t: repaired ${bad.size} cross-partition " +
                      s"file(s) into ${splits.size} splits")
                  } catch {
                    case scala.util.control.NonFatal(re) =>
                      candidates = candidates.filterNot(f => bad(f._1))
                      repairFailed += bad.size
                      out(s"  $t: re-partition failed for ${bad.size} " +
                        s"file(s): ${re.getMessage}")
                  }
              }
              client match {
                case Some(c) =>
                  // real per-file record counts from the footers — the
                  // snapshot summary the reference exporter publishes
                  c.appendDataFiles(a.namespace, t,
                    graft.catalog.DataFiles.describe(spark, candidates.map(_._1)))
                  registered += candidates.size
                case None =>
                  import spark.implicits._
                  Recovery.registerFiles(spark, s"${a.manifest}/$t",
                    candidates.toDF("file_path", "file_size"))
                  registered += candidates.size
              }
            }
            t -> n
          }
          out(s"Total files found:    $total")
          if (a.dryRun || a.cmd == "scan") {
            out(s"Files to recover:     $total")
            if (a.cmd == "reconcile") {
              out("")
              out("Run without --dry-run to perform actual recovery.")
            }
          } else {
            out(s"Successfully registered: $registered")
            if (repairedFiles > 0)
              out(s"Files repaired (cross-partition): $repairedFiles " +
                s"-> $repairSplits splits")
            if (repairFailed > 0)
              out(s"Files failed re-partition:  $repairFailed")
          }
          if (total > 0) {
            out("")
            out("=== By Table ===")
            perTable.filter(_._2 > 0).foreach { case (t, n) =>
              out(s"  $t: $n files")
            }
          }
          out("")
          out("Recovery process complete.")
          0

        case "prune" =>
          require(a.manifest.nonEmpty, s"--manifest is required\n$usage")
          val tables = resolveTables(spark, a)
          out("=== Prune Results ===")
          tables.foreach { t =>
            val tablePath = s"${a.basePath}/$t"
            val manifestPath = s"${a.manifest}/$t"
            val existing =
              try Some(spark.read.parquet(manifestPath))
              catch { case _: Throwable => None }
            existing match {
              case None => out(s"  $t: no manifest")
              case Some(m) =>
                val missing = Recovery.scanMissing(spark, tablePath, m).count()
                if (a.dryRun) out(s"  $t: $missing stale entries (dry-run)")
                else {
                  if (missing > 0) Recovery.pruneMissing(spark, tablePath, manifestPath)
                  out(s"  $t: pruned $missing stale entries")
                }
            }
          }
          0

        case "repartition" =>
          require(a.tables.nonEmpty, s"repartition needs --tables\n$usage")
          // catalog mode: a granularity rewrite also EVOLVES the table's
          // server-side partition spec (reference repartitioner +
          // partition.go:74 — without this, repartitioned tables keep
          // their original identity spec in the catalog, r5 gap #3)
          val cliClient = if (a.catalogUri.isEmpty) None else Some(
            new graft.catalog.RestCatalogClient(
              graft.catalog.RestCatalogClient.Settings(
                uri = a.catalogUri, warehouse = a.catalogWarehouse,
                auth = graft.catalog.RestCatalogClient.CatalogAuth(
                  token = a.catalogToken)),
              spark.sparkContext.hadoopConfiguration))
          a.tables.foreach { t =>
            val from = SinkConfig(a.basePath, t, tsColumn = a.tsColumn,
              granularity = a.fromGranularity)
            val to = SinkConfig(a.basePath, s"${t}_${a.toGranularity}",
              tsColumn = a.tsColumn, granularity = a.toGranularity)
            if (a.dryRun) {
              val n = Recovery.listDataFiles(spark,
                graft.sink.PartitionedParquetSink.tablePath(from)).count()
              out(s"  $t: would rewrite $n files at ${a.toGranularity} (dry-run)")
            } else {
              Recovery.repartition(spark, from, to)
              out(s"  $t: rewritten at ${a.toGranularity} -> ${t}_${a.toGranularity}")
              cliClient.foreach { c =>
                if (c.loadTable(a.namespace, t).isEmpty)
                  out(s"  $t: not in catalog — spec unchanged")
                else {
                  c.updatePartitionSpec(a.namespace, t, a.tsColumn, a.toGranularity)
                  out(s"  $t: catalog default spec -> ${a.toGranularity}")
                }
              }
            }
          }
          0
      }
    } catch {
      case e: IllegalArgumentException => out(e.getMessage); 2
      case scala.util.control.NonFatal(e) =>
        out(s"error: ${e.getMessage}"); 1
    }
  }

  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-recovery")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val code = run(spark, argv)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
