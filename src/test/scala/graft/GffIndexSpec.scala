package graft

import graft.index.{GffOps, IndexBuild}
import graft.ops.{Closure, Contained, Overlap}
import graft.sources.GffSource
import org.apache.spark.sql.functions._

import java.nio.file.Files
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
}
