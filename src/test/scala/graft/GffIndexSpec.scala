package graft

import graft.index.{GffOps, IndexBuild}
import graft.ops.{Closure, Contained, Overlap}
import graft.sources.GffSource
import org.apache.spark.TaskContext
import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

/** End-to-end index-build + extract/search/intersect over a synthetic GFF
  * fixture, porting the reference's semantics as properties (SURVEY.md §5.3):
  * coordinate normalization, parent fallback-to-self, root fixpoint,
  * group extents, dictionary determinism.
  */
class GffIndexSpec extends SparkSpec {
  import spark.implicits._

  private val gff =
    """##gff-version 3
      |chr1	src	gene	100	500	.	+	.	ID=gene1;gene_name=alpha
      |chr1	src	mRNA	100	500	.	+	.	ID=rna1;Parent=gene1
      |chr1	src	exon	100	200	.	+	.	ID=ex1;Parent=rna1
      |chr1	src	exon	300	500	.	+	.	ID=ex2;Parent=rna1
      |chr1	src	gene	700	900	.	-	.	ID=gene2;gene_name=beta
      |chr1	src	exon	900	700	.	-	.	ID=ex3;Parent=gene2
      |chr2	src	gene	50	60	.	+	.	ID=gene3;gene_name=alpha
      |chr2	src	region	1	1000	.	+	.	ID=reg1
      |chr2	src	exon	0	0	.	+	.	ID=exz;Parent=gene3
      |chr2	src	exon	abc	99	.	+	.	ID=exbad;Parent=gene3
      |chr2	src	exon	55	58	.	+	.	ID=ex4;Parent=ghost
      |""".stripMargin

  private lazy val dir = {
    val d = Files.createTempDirectory("gff").toString
    Files.write(java.nio.file.Paths.get(s"$d/test.gff"), gff.getBytes("UTF-8"))
    d
  }
  private lazy val parsed = GffSource.parse(spark, s"$dir/test.gff")
  private lazy val idx = IndexBuild.build(parsed)

  test("parse: comments/blank skipped, skip_types dropped, end==0 dropped, coords normalized") {
    val rows = parsed.select("id", "start", "end").as[(String, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!rows.contains("reg1"), "type 'region' is in skip_types")
    assert(!rows.keySet.exists(_ == "exz"), "end==0 dropped")
    assert(!rows.contains("exbad"), "malformed coordinate dropped (P8 try_cast, not ANSI throw)")
    assert(rows("gene1") == ((99L, 500L)), "1-closed -> 0-half-open")
    assert(rows("ex3") == ((699L, 900L)), "swapped start/end normalized")
  }

  test("index: dense fids in file order; parent closure to roots; ghost parent -> self") {
    val f = idx.features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(f("gene1")._1 == 0, "fid = file ordinal")
    val gene1Fid = f("gene1")._1
    assert(f("rna1")._2 == gene1Fid && f("ex1")._2 == gene1Fid && f("ex2")._2 == gene1Fid,
      "multi-level closure exon->mRNA->gene")
    assert(f("ex4")._2 == f("ex4")._1, "unresolvable Parent= falls back to self (core.rs:162-168)")
    assert(f("gene3")._2 == f("gene3")._1, "no Parent= -> self root")
  }

  test("entity dictionary is first-appearance ordered (core.rs:153)") {
    val d = idx.entityDict.as[(String, Long)].collect().toMap
    assert(d == Map("chr1" -> 0L, "chr2" -> 1L))
  }

  test("group extents span the group's lines and coords (≙ .gof)") {
    val g = idx.groupExtents
      .join(idx.features.select(col("fid").as("root_fid"), col("id")), "root_fid")
      .select("id", "n", "g_start", "g_end")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(g("gene1") == ((4L, 99L, 500L)))
    assert(g("gene2") == ((2L, 699L, 900L)))
  }

  test("extract: names -> whole groups, file-ordered; missing reported") {
    val got = GffOps.extract(idx, Seq("ex2").toDF("name"))
      .select("id").as[String].collect().toSeq
    assert(got == Seq("gene1", "rna1", "ex1", "ex2"), "whole root block, file order")
    val missing = GffOps.missingNames(idx, Seq("ex2", "nope").toDF("name"))
      .as[String].collect().toSeq
    assert(missing == Seq("nope"))
  }

  test("search exact + regex over attr dictionary -> groups") {
    val exact = GffOps.searchRegex(idx, Seq("^alpha$"))
      .select("id").as[String].collect().toSet
    assert(exact == Set("gene1", "rna1", "ex1", "ex2", "gene3"),
      "both groups whose root carries attr=alpha; self-rooted ex4 excluded")
    val regex = GffOps.searchRegex(idx, Seq("^b.*"))
      .select("id").as[String].collect().toSet
    assert(regex == Set("gene2", "ex3"))
  }

  test("fid assignment is reproducible across scan parallelism (SURVEY §1.4: line_no from a total order)") {
    // same file parsed at 1 vs 7 input splits: line_no (and therefore every
    // downstream dense id) must be IDENTICAL — the property
    // monotonically_increasing_id cannot give
    val p1 = GffSource.parse(spark, s"$dir/test.gff", minPartitions = 1)
    val p7 = GffSource.parse(spark, s"$dir/test.gff", minPartitions = 7)
    val m1 = p1.select("id", "line_no").as[(String, Long)].collect().toMap
    val m7 = p7.select("id", "line_no").as[(String, Long)].collect().toMap
    assert(m1 == m7 && m1.nonEmpty)
    val f1 = IndexBuild.build(p1).features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().toSet
    val f7 = IndexBuild.build(p7).features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().toSet
    assert(f1 == f7, "dense fids + closure roots identical at any parallelism")
  }

  test("S5/S6 file front-ends: name/value list files drive extract/search (extract.rs:61-79, search.rs:76-87)") {
    val listDir = Files.createTempDirectory("gfflists").toString
    // whitespace, blank lines, and comment lines must all be dropped
    Files.write(java.nio.file.Paths.get(s"$listDir/names.txt"),
      "# requested features\n  ex2  \n\nex2\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$listDir/values.txt"),
      "alpha\n\n# comment\n".getBytes("UTF-8"))
    val byFile = GffOps.extract(idx, GffSource.readNameList(spark, s"$listDir/names.txt"))
      .select("id").as[String].collect().toSeq
    assert(byFile == Seq("gene1", "rna1", "ex1", "ex2"), "file list ≡ direct list")
    val values = GffSource.readNameList(spark, s"$listDir/values.txt")
      .as[String].collect().toSeq
    assert(values == Seq("alpha"))
    val viaFile = GffOps.searchRegex(idx, values.map(v => "^" + Pattern.quote(v) + "$"))
      .select("id").as[String].collect().toSet
    assert(viaFile == Set("gene1", "rna1", "ex1", "ex2", "gene3"))
  }

  test("M5 header passthrough + S11 TSV sink round-trip") {
    val headers = GffSource.headerLines(spark, s"$dir/test.gff").as[String].collect().toSeq
    assert(headers == Seq("##gff-version 3"))
    val out = Files.createTempDirectory("gfftsv").toString + "/out"
    GffSource.writeTsv(parsed.select("id", "start", "end"), out)
    val back = spark.read.option("sep", "\t").option("header", "true").csv(out)
    assert(back.count() == parsed.count())
    assert(back.columns.toSeq == Seq("id", "start", "end"))
  }

  test("intersect: overlap vs contained modes + invert") {
    val regions = Seq((0L, 150L, 350L)).toDF("entity_id", "start", "end")
    val hit = GffOps.intersect(idx, regions, Overlap)
      .select("id").as[String].collect().toSet
    assert(hit == Set("gene1", "rna1", "ex1", "ex2"))
    val cont = GffOps.intersect(idx, regions, Contained).count()
    assert(cont == 0, "gene1 interval [99,500) not contained in [150,350)")
    // invert is candidate-level XOR (intersect.rs:137-164): candidates come
    // from the OVERLAP tree probe, kept iff the mode predicate fails — so
    // invert+Overlap is empty by construction, and invert+Contained keeps
    // the overlapping-but-not-contained group (gene1's [99,500) vs [150,350))
    assert(GffOps.intersect(idx, regions, Overlap, invert = true).count() == 0)
    val invContained = GffOps.intersect(idx, regions, Contained, invert = true)
      .select("id").as[String].collect().toSet
    assert(invContained == Set("gene1", "rna1", "ex1", "ex2"))
    // match-only on a narrower region: ex2 [299,500) does NOT overlap [150,250)
    val narrow = Seq((0L, 150L, 250L)).toDF("entity_id", "start", "end")
    val matchOnly = GffOps.intersect(idx, narrow, Overlap, matchOnly = true)
      .select("id").as[String].collect().toSet
    assert(matchOnly == Set("gene1", "rna1", "ex1"),
      "per-line re-check drops non-overlapping group members (intersect.rs:301-307)")
  }

  test("resolveRootsReleasable: correct roots, and release() leaves no cached data behind") {
    // depth-3 chains + a self-root + a dangling parent
    val edges = (Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 2L), (4L, 99L)) ++
      (10L until 40L).map(i => (i, i - 10)))
      .toDF("id", "parent")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (roots, release) = Closure.resolveRootsReleasable(edges)
    val m = roots.as[(Long, Long)].collect().toMap
    assert(m(3L) == 0L && m(2L) == 0L && m(0L) == 0L)
    assert(m(4L) == 99L, "dangling parent resolves to the pointer itself")
    assert(m(30L) == 0L || m(30L) == 10L % 10, "chain resolves to its head")
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the closure rounds should have materialized caches")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.intersect(during)
    assert(leaked.isEmpty,
      s"closure rounds must not leave cached RDDs after release(): $leaked")
  }

  // ---- group fetch: each feature row once, the inner join's column order

  /** The columns (and order) of an inner join on root_fid: root_fid first. */
  private val groupCols = Seq("root_fid", "line_no", "fid", "entity_id", "seqid", "ftype",
    "start", "end", "id", "parent", "attr", "aid")

  private def assertOnceEach(df: DataFrame, ids: Seq[String]): Unit = {
    assert(df.columns.toSeq == groupCols)
    val got = df.select("id").as[String].collect().toSeq
    assert(got.sorted == ids.sorted, s"each feature row exactly once: $got")
  }

  private val gene1Group = Seq("gene1", "rna1", "ex1", "ex2")

  test("extract: duplicate names, and two names of one group, return each row once") {
    assertOnceEach(GffOps.extract(idx, Seq("ex2", "ex2", " ex2 ").toDF("name")), gene1Group)
    assertOnceEach(GffOps.extract(idx, Seq("ex1", "rna1").toDF("name")), gene1Group)
  }

  test("intersect: two regions hitting one root return each row once (plain and invert)") {
    val regions = Seq((0L, 100L, 150L), (0L, 300L, 350L)).toDF("entity_id", "start", "end")
    assertOnceEach(GffOps.intersect(idx, regions, Overlap), gene1Group)
    // both regions overlap gene1's [99,500) without containing it
    assertOnceEach(GffOps.intersect(idx, regions, Contained, invert = true), gene1Group)
  }

  test("searchRegex: one regex matching two attrs of one group returns each row once") {
    val gff2 =
      """chrA	src	gene	10	90	.	+	.	ID=gA;gene_name=kappa1
        |chrA	src	mRNA	10	90	.	+	.	ID=rA;Parent=gA;gene_name=kappa2
        |chrA	src	exon	10	40	.	+	.	ID=eA;Parent=rA
        |chrA	src	gene	200	300	.	+	.	ID=gB;gene_name=lambda
        |""".stripMargin
    val f = Files.createTempDirectory("gff2").resolve("two_attrs.gff")
    Files.write(f, gff2.getBytes("UTF-8"))
    val t = IndexBuild.build(GffSource.parse(spark, f.toString))
    assert(t.attrDict.where(col("attr").rlike("^kappa")).count() == 2)
    assertOnceEach(GffOps.searchRegex(t, Seq("^kappa")), Seq("gA", "rA", "eA"))
  }

  // ---- persisted index: round trip, fail-fast load, job budget

  private lazy val indexDir: String = {
    val d = Files.createTempDirectory("gffidx").resolve("index").toString
    IndexBuild.write(idx, d)
    d
  }
  private lazy val loaded = IndexBuild.load(spark, indexDir)

  private def tables(t: IndexBuild.IndexTables) =
    Seq(t.features, t.entityDict, t.attrDict, t.groupExtents, t.intervals)

  test("write -> load round trip: every loaded table equals the built one") {
    for ((name, (built, back)) <- IndexBuild.TableNames.zip(tables(idx).zip(tables(loaded)))) {
      assert(back.schema.map(f => f.name -> f.dataType) == built.schema.map(f => f.name -> f.dataType),
        name)
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
      assert(rows(back) == rows(built), name)
    }
    // dictionaries within the broadcast cap are served from the driver
    for (d <- Seq(loaded.entityDict, loaded.attrDict))
      assert(d.queryExecution.analyzed.isInstanceOf[LocalRelation])
  }

  private def copyIndex(skip: String): String = {
    val to = Files.createTempDirectory("gffidx_copy")
    val from = Paths.get(indexDir)
    Files.walk(from).forEach { (p: Path) =>
      val rel = from.relativize(p)
      if (!rel.toString.startsWith(skip)) {
        val dst = to.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
      }
    }
    to.toString
  }

  private def loadError(dir: String): String =
    intercept[IllegalArgumentException](IndexBuild.load(spark, dir)).getMessage

  test("load fails fast naming the dir: manifest missing") {
    val d = copyIndex(skip = "manifest.json")
    val msg = loadError(d)
    assert(msg.contains(d) && msg.contains("manifest.json"), msg)
  }

  test("load fails fast naming the dir: manifest malformed") {
    val d = copyIndex(skip = "manifest.json")
    Files.write(Paths.get(s"$d/manifest.json"), """{"features":12,""".getBytes("UTF-8"))
    val msg = loadError(d)
    assert(msg.contains(d) && msg.contains("manifest.json"), msg)
    // well-formed JSON without a count for every table
    Files.write(Paths.get(s"$d/manifest.json"), """{"features":12}""".getBytes("UTF-8"))
    val msg2 = loadError(d)
    assert(msg2.contains(d) && msg2.contains("entity_dict"), msg2)
  }

  test("load fails fast naming the dir and the table: a listed table is absent") {
    val d = copyIndex(skip = "attr_dict")
    val msg = loadError(d)
    assert(msg.contains(d) && msg.contains("attr_dict"), msg)
  }

  test("write: the first failed table write cancels the others and rethrows within seconds") {
    // a write that would run for two minutes unless its job is cancelled
    val slowUdf = udf { (i: Long) =>
      val ctx = TaskContext.get()
      val t0 = System.nanoTime()
      while (!ctx.isInterrupted() && System.nanoTime() - t0 < 120L * 1000000000L) Thread.sleep(20)
      i
    }
    val failUdf = udf { (i: Long) =>
      Thread.sleep(500)
      if (i >= 0) throw new IllegalStateException("injected table write failure")
      i
    }
    val slow = spark.range(0, 2, 1, 2).select(slowUdf(col("id")).as("id"))
    val failing = spark.range(0, 1, 1, 1).select(failUdf(col("id")).as("id"))
    val d = Files.createTempDirectory("gffidx_fail").resolve("index").toString
    val t0 = System.nanoTime()
    val e = intercept[Exception](IndexBuild.write(
      idx.copy(features = slow, attrDict = failing), d))
    val waited = (System.nanoTime() - t0) / 1e9
    assert(waited < 30, s"rethrown after $waited s")
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected table write failure")), e)
    assert(!Files.exists(Paths.get(s"$d/manifest.json")), "no manifest after a failed write")
    // the other writes were cancelled and have unwound: no job of this
    // write is running, and none starts after it has thrown
    val sc = spark.sparkContext
    ListenerBusAccess.waitUntilEmpty(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "writes still running")
    assert(jobsOf(Thread.sleep(1000)) == 0, "a write started a job after write() threw")
  }

  /** Spark jobs started while `body` runs, `body` included its plan-time
    * (eager) jobs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusAccess.waitUntilEmpty(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("job budget: lookups on the loaded index, each forced by count()") {
    val t = loaded // built, written and loaded before any job is counted
    // extract/searchRegex: broadcast of the names (aids), broadcast of the
    // roots (a semi-join, no distinct stage), count's two stages.
    // intersect: ONE bounded collect decides and builds the region side;
    // AQE then plans the semi-join on the unbounded roots at run time.
    // Distinct + inner join fetches and count-then-collect decisions ran 5, 5 and 7.
    assert(jobsOf(GffOps.extract(t, Seq("ex2").toDF("name")).count()) == 4)
    assert(jobsOf(GffOps.searchRegex(t, Seq("^alpha$")).count()) == 4)
    assert(jobsOf(GffOps.intersect(t, Seq((0L, 150L, 350L)).toDF("entity_id", "start", "end"),
      Overlap).count()) == 6)
  }
}
