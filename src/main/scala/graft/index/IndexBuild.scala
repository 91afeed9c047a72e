package graft.index

import graft.ops.{BroadcastBuild, Closure}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration._

/** The index-build job (reference lifecycle §3.1, index_builder/core.rs:41-242)
  * re-expressed as a 5-stage Spark pipeline producing persisted index
  * tables — the Spark-native analog of the 8 sidecar files:
  *
  *  - features (+ fid, root_fid)  ≙ .fts/.prt resolved     (dense ids)
  *  - attr dictionary (aid)       ≙ .atn/.a2f
  *  - entity dictionary           ≙ .sqs
  *  - group extents               ≙ .gof
  *  - interval table, range-partitioned by (entity, start) ≙ .rit/.rix
  *
  * Dense ids come from `row_number` over a TOTAL order (line_no), not
  * `monotonically_increasing_id` — reproducible at any parallelism
  * (SURVEY.md §7 "what's hard" #1). Cost: one global sort at index time,
  * amortized over every query after (index-once/query-many, README.md:383).
  */
object IndexBuild {

  final case class IndexTables(
      features: DataFrame, // line_no, fid, entity_id, seqid, ftype, start, end, id, parent, attr, root_fid, aid
      entityDict: DataFrame, // seqid -> entity_id (first-appearance order, core.rs:153,171-176)
      attrDict: DataFrame, // attr -> aid (u32::MAX null sentinel -> SQL null)
      groupExtents: DataFrame, // root_fid -> n, min line_no, max line_no, min start, max end
      intervals: DataFrame, // entity_id, start, end, root_fid (≙ tree payload tree.rs:6-10)
      releaseScratch: () => Unit = () => ()) // frees the BUILD-time caches (stage-1 feats + closure rounds); call once the tables themselves are cached/persisted

  /** Build all index tables from a parsed GFF DataFrame (GffSource.parse). */
  def build(parsed: DataFrame): IndexTables = {
    // stage 0: materialize the parse ONCE. Without this the parse plan
    // (text split + regex extraction — the widest expressions in the whole
    // engine) executes three times before stage 1 completes: the range
    // partitioner's sampling pass, zipWithIndex's per-partition count job,
    // and the cache fill — each with its own codegen. Build-time scratch,
    // freed by releaseScratch() with the rest.
    //
    // r6: project to the columns the index actually serves BEFORE the
    // cache and the stage-1 range exchange (guide §2.3 "project before the
    // exchange"): the parse also carries source/score/strand/phase and the
    // RAW attrs string — none reach any index table, but they were cached,
    // range-shuffled and zipped through stage 1 (attrs is the widest
    // column in the corpus). Cache fill forces every column; pruning
    // can't help after the fact.
    val served = Seq("line_no", "seqid", "ftype", "start", "end", "id", "parent", "attr")
    val parsedC = parsed.select(served.map(col): _*).cache()
    parsedC.count()
    // stage 1: dense fid by file order (≙ fid = row ordinal, core.rs:141-144).
    // NOT row_number() over an unpartitioned Window — that funnels the whole
    // corpus through ONE task ("Moving all data to a single partition").
    // Range-partition on line_no + per-partition zip gives the identical
    // rank fully distributed (partitions are ordered ranges, rows sorted
    // within, line_no unique -> index == global rank), at the cost of one
    // extra per-partition count job. r6: the zip runs at the InternalRow
    // level (graftx.InternalZip) — the old `.rdd.zipWithIndex()` +
    // createDataFrame paid two full external-Row serde passes over the
    // corpus just to append the ordinal (guide §1.2 per-task work).
    val sorted = parsedC.repartitionByRange(col("line_no"))
      .sortWithinPartitions(col("line_no"))
    val feats = org.apache.spark.sql.graftx.InternalZip
      .withOrdinal(sorted, "fid").cache()

    // stage 2: entity dictionary in first-appearance order (core.rs:153).
    // The unpartitioned row_number windows below run on POST-AGGREGATION
    // rows (one per distinct seqid / attr) — dictionary-sized, not
    // corpus-sized, so the single-partition sort is bounded by construction.
    val entityDict = feats.groupBy(col("seqid"))
      .agg(min(col("line_no")).as("first_ln"))
      .withColumn("entity_id", row_number().over(Window.orderBy(col("first_ln"))).cast("long") - 1)
      .drop("first_ln")

    // stage 3: attr dictionary; missing attr ≙ u32::MAX sentinel -> null aid
    val attrDict = feats.where(col("attr").isNotNull)
      .groupBy(col("attr")).agg(min(col("fid")).as("first_fid"))
      .withColumn("aid", row_number().over(Window.orderBy(col("first_fid"))).cast("long") - 1)
      .drop("first_fid")

    // stage 4: parent closure to roots (string ids; missing Parent -> self,
    // core.rs:162-168); resolve names -> fids, then pointer-double.
    val nameToFid = feats.where(col("id").isNotNull)
      .groupBy(col("id")).agg(min(col("fid")).as("pfid"))
    val edges = feats
      .join(nameToFid.withColumnRenamed("id", "parent").withColumnRenamed("pfid", "parent_fid"),
        Seq("parent"), "left")
      .select(col("fid").as("id"),
        coalesce(col("parent_fid"), col("fid")).as("parent"))
    val (rootsRaw, releaseClosure) = Closure.resolveRootsReleasable(edges)
    val roots = rootsRaw
      .withColumnRenamed("id", "fid").withColumnRenamed("root", "root_fid")

    val full = feats
      .join(roots, "fid")
      .join(entityDict, "seqid")
      .join(attrDict, Seq("attr"), "left")
      .select("line_no", "fid", "entity_id", "seqid", "ftype", "start", "end",
        "id", "parent", "attr", "aid", "root_fid")

    // Serving dictionaries are RE-DERIVED from the features table (which
    // carries entity_id/aid columns), not returned as the build-time plans
    // over the stage-1 scratch: once a caller caches `features`, every
    // other index table is a small aggregate READING THROUGH that one
    // cache, and releaseScratch() can free the scratch without any table
    // silently re-running the parse (≙ the sidecar model: .sqs/.atn are
    // projections of the indexed feature table).
    val entityDictOut = full.select(col("seqid"), col("entity_id")).distinct()
    val attrDictOut = full.where(col("attr").isNotNull)
      .select(col("attr"), col("aid")).distinct()

    // stage 5: group extents (≙ .gof, core.rs:182-203) + interval table
    val groupExtents = full.groupBy(col("root_fid"))
      .agg(count(lit(1)).as("n"),
        min(col("line_no")).as("ln_start"), max(col("line_no")).as("ln_end"),
        min(col("start")).as("g_start"), max(col("end")).as("g_end"),
        first(col("entity_id")).as("entity_id"))

    // root interval per group on its entity; range-partitioned like the
    // per-seqid trees (.rit/.rix): co-located probes hit one partition.
    val intervals = groupExtents
      .select(col("entity_id"), col("g_start").as("start"), col("g_end").as("end"),
        col("root_fid"))
      .repartitionByRange(col("entity_id"), col("start"))
      .sortWithinPartitions(col("entity_id"), col("start"))

    IndexTables(full, entityDictOut, attrDictOut, groupExtents, intervals,
      // build-time scratch: the stage-1 feats cache + the closure rounds'
      // caches. Callers that cache/persist the returned tables should call
      // this afterwards — every plan above reads THROUGH these caches, so
      // releasing early just means recomputing the parse on next use
      releaseScratch = () => { parsedC.unpersist(false); feats.unpersist(false); releaseClosure() })
  }

  /** The five persisted tables, in manifest order. */
  val TableNames: Seq[String] =
    Seq("features", "entity_dict", "attr_dict", "group_extents", "intervals")

  /** Upper bound on one index write: a write that hangs fails instead. */
  private val WriteTimeout: FiniteDuration = 1.hour

  /** Persist index tables as partitioned parquet + a JSON manifest
    * (≙ writing the sidecars, core.rs:221-236 + tree_io.rs:37-63).
    *
    * The first table write that fails cancels the others (one job group)
    * and its error is rethrown as soon as the cancelled writes have
    * unwound (at most a minute); writes still running after an hour
    * (`WriteTimeout`) are cancelled the same way and fail with a
    * TimeoutException. Either way no manifest is written.
    */
  def write(t: IndexTables, dir: String): Unit = {
    // The five sidecar writes are independent jobs over cached/derived
    // tables — submit them from a small thread pool so the dictionary
    // writes back-fill executors freed by the features write's tail
    // (guide §2.6 "overlap independent jobs"); wall clock ≈ the slowest
    // write instead of the sum. Each thread then counts what it wrote
    // FROM THE LANDED PARQUET footers (metadata-only, no recompute of the
    // serving plans), which also makes the manifest lineage of the output.
    val tables = TableNames.zip(Seq(t.features, t.entityDict, t.attrDict,
      t.groupExtents, t.intervals))
    val sc = t.features.sparkSession.sparkContext
    val group = s"graft-index-write-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.length)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = tables.map { case (name, df) =>
        Future {
          sc.setJobGroup(group, s"index write: $name")
          df.write.mode("overwrite").parquet(s"$dir/$name")
          name -> df.sparkSession.read.parquet(s"$dir/$name").count()
        }
      }
      // completes with the FIRST failure, or with all counts
      val firstFailure = Promise[Seq[(String, Long)]]()
      futures.foreach(_.failed.foreach(firstFailure.tryFailure))
      val counts =
        try Await.result(Future.firstCompletedOf(Seq(Future.sequence(futures),
          firstFailure.future)), WriteTimeout)
        catch {
          case e: Throwable =>
            sc.cancelJobGroupAndFutureJobs(group, s"index write to $dir failed: $e")
            // the other writes fail fast now; let them unwind so that no
            // job of this write starts after it has thrown
            pool.shutdown()
            pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
            throw e
        }
      val json = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      Files.write(Paths.get(s"$dir/manifest.json"), json.getBytes("UTF-8"))
    } finally pool.shutdown()
  }

  /** Opens a written index. Fails fast, with an IllegalArgumentException
    * naming the index dir (and the table), when `manifest.json` is missing
    * or malformed or a table it lists is absent.
    *
    * A dictionary (`entity_dict`, `attr_dict`) of at most
    * [[BroadcastBuild.MaxRows]] rows by the manifest is read into the
    * driver once, here, and served as a local relation — the analog of the
    * reference holding `.sqs`/`.atn` in memory (index_loader/core.rs:19-89):
    * its lookups and broadcasts scan no file. Larger dictionaries and the
    * other tables stay parquet-backed.
    */
  def load(spark: SparkSession, dir: String): IndexTables = {
    val counts = readManifest(dir)
    def table(name: String): DataFrame = {
      require(Files.isDirectory(Paths.get(s"$dir/$name")),
        s"index $dir: table '$name' listed in manifest.json is absent")
      spark.read.parquet(s"$dir/$name")
    }
    def dict(name: String): DataFrame = {
      val df = table(name)
      if (counts(name) > BroadcastBuild.MaxRows) df
      else {
        val rows = df.limit((BroadcastBuild.MaxRows + 1).toInt).collectAsList()
        require(rows.size == counts(name),
          s"index $dir: table '$name' has ${rows.size} rows, manifest.json says ${counts(name)}")
        spark.createDataFrame(rows, df.schema)
      }
    }
    IndexTables(table("features"), dict("entity_dict"), dict("attr_dict"),
      table("group_extents"), table("intervals"))
  }

  /** Table name -> row count, for every table in [[TableNames]]. */
  private def readManifest(dir: String): Map[String, Long] = {
    val path = Paths.get(s"$dir/manifest.json")
    require(Files.isRegularFile(path), s"index $dir: manifest.json is missing")
    val json =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(path))
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"index $dir: manifest.json is malformed: ${e.getMessage}", e)
      }
    TableNames.map { name =>
      val n = Option(json).flatMap(j => Option(j.get(name)))
      require(n.exists(v => v.isIntegralNumber && v.asLong >= 0),
        s"index $dir: manifest.json has no row count for table '$name'")
      name -> n.get.asLong
    }.toMap
  }
}
