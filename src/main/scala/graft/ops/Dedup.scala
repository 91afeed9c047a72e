package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH candidate generation, SimHash signatures, exact n-gram
  * Jaccard within blocks. All deterministic (md5-based, no RNG) and
  * expressible in ANSI SQL for the oracle.
  *
  * Scale notes: exact dedup is one shuffle on the hash key; MinHash is
  * explode -> partial-agg groupBy (map-side combine on doc_id) -> band
  * self-join where bucket sizes, not corpus size, bound the output;
  * hot buckets are the skew to watch — at 100 TB add a bucket-size cap
  * or a salted secondary band.
  */
object Dedup {

  /** Exact dedup on an arbitrary key expression: marks the canonical row
    * (min id) per duplicate group and the group size.
    */
  def exact(df: DataFrame, idCol: String, keyExpr: String): DataFrame = {
    val w = Window.partitionBy(col("dup_key"))
    df.withColumn("dup_key", expr(keyExpr))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
      .select(idCol, "dup_key", "group_size", "is_canonical")
  }

  /** Char n-gram shingles of a text column, deduplicated PER DOC inside the
    * array before the explode — per-doc set semantics with ZERO pre-agg
    * shuffle (the round-1 version ran a global `.distinct()` over the
    * exploded table: a full shuffle of every shingle row).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(expr(s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${n - 1}, 1)), " +
        s"i -> substring($textCol, i, $n)))")).as("s"))

  /** One 32-bit minhash lane: slice i of the salted md5 (4 lanes per md5
    * call — the standard one-hash slicing trick; lanes of a cryptographic
    * hash are independent functions of the shingle). k lanes cost
    * ceil(k/4) md5 evaluations per shingle instead of k.
    */
  private def mhLane(i: Int) =
    min(substring(md5(concat(lit(s"${i / 4}:"), col("s"))), (i % 4) * 8 + 1, 8))

  /** MinHash signatures, declarative spec: k 32-bit hash lanes h_i(doc) =
    * min over the doc's shingle set. md5 is identical in Spark and DuckDB,
    * so signatures are engine-portable. One explode + one groupBy (partial
    * agg does the mins map-side — only k values per doc cross the wire).
    * The production path is [[minHashSignaturesFused]] (identical values,
    * zero explode/shuffle); this formulation remains as the executable
    * spec, equality-tested in TextDedupSpec.
    */
  def minHashSignatures(sh: DataFrame, idCol: String, k: Int): DataFrame =
    sh.groupBy(col(idCol))
      .agg(mhLane(0).as("mh0"), (1 until k).map(i => mhLane(i).as(s"mh$i")): _*)

  /** Fused MinHash signatures: one codegen'd pass over the text bytes per
    * row (functions/MinHashLanesExpr) — no shingle array, no explode, no
    * aggregation shuffle. Duplicate shingles cannot change a min, so the
    * values equal the distinct-shingle spec above exactly. Measured ~20x
    * on q21 at sf0.1 (interpreted HOF shingling was the bottleneck).
    */
  def minHashSignaturesFused(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol),
        graft.functions.TextHash.min_hash_lanes(col(textCol), shingleN, k).as("__mh"))
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("__mh"), i + 1).as(s"mh$i")): _*)

  private def bandTable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, r: Int): DataFrame = {
    require(k % r == 0)
    val sig = minHashSignaturesFused(df, idCol, textCol, shingleN, k)
    val nBands = k / r
    val bandExprs = (0 until nBands).map { j =>
      val c = (0 until r).map(q => s"mh${j * r + q}").mkString("concat(", ", ", ")")
      s"struct(${j}L AS j, $c AS b)"
    }
    sig.select(col(idCol),
      explode(expr(s"array(${bandExprs.mkString(", ")})")).as("band"))
      .select(col(idCol), col("band.j").as("j"), col("band.b").as("b"))
  }

  /** LSH candidate pairs: band j = concat of r consecutive minhash lanes;
    * docs sharing any band are candidates. Returns distinct (da < db).
    *
    * Hot-bucket cap (`maxBucket`): a band value shared by more docs is
    * non-discriminative (near-universal shingles — empty/boilerplate docs)
    * and would make one reducer O(b^2); such buckets are dropped
    * DETERMINISTICALLY — same rule on the oracle side.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, k: Int = 8, r: Int = 2, maxBucket: Int = 128): DataFrame = {
    val bands = bandTable(df, idCol, textCol, shingleN, k, r)
    val capped = bands
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("j"), col("b"))))
      .where(col("__bn") <= maxBucket).drop("__bn")
    capped.as("a").join(capped.as("b"),
        col("a.j") === col("b.j") && col("a.b") === col("b.b") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"))
      .distinct()
  }

  /** SimHash: `bits`-bit signature; bit j votes +1/-1 per word occurrence
    * from bit (j%4) of hex digit (j/4+1) of the word's md5. Near-dup docs
    * land at small Hamming distance. Codegen'd one-pass expression
    * (functions/SimHashExpr) — the declarative twin [[simHashHof]] is the
    * executable spec (interpreted HOF lambdas: measured 186 s vs ~2 s at
    * sf0.1 under a checksum action that defeats column pruning).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    df.select(col(idCol),
      graft.functions.TextHash.sim_hash(col(textCol), bits).as("simhash"))

  /** Declarative built-ins-only twin of [[simHash]] (the spec). */
  def simHashHof(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits <= 32 && bits % 4 == 0)
    // per word: array of hex-digit values of md5 chars 1..bits/4
    val hs = s"transform(split($textCol, ' '), w -> transform(sequence(1, ${bits / 4}), " +
      s"p -> CAST(locate(substring(md5(w), p, 1), '0123456789abcdef') - 1 AS LONG)))"
    val votes = (0 until bits).map { j =>
      val digit = j / 4 + 1 // 1-based into hs element
      val shift = 1 << (j % 4)
      s"(CASE WHEN aggregate($hs, 0L, (acc, h) -> acc + 2 * ((element_at(h, $digit) DIV $shift) % 2) - 1) > 0 THEN ${1L << j}L ELSE 0L END)"
    }
    df.select(col(idCol), expr(votes.mkString(" + ")).as("simhash"))
  }

  /** Exact word-set Jaccard for all pairs within a blocking key (same
    * block -> candidate). inter/union are exact ints; the division is one
    * IEEE op — bit-identical across engines.
    *
    * Block-size cap (`maxBlock`): the all-pairs verify inside a block is
    * O(b^2); blocks with more than `maxBlock` docs (a degenerate prefix —
    * boilerplate/empty documents) are dropped deterministically on both
    * engines BEFORE the word explode, bounding any reducer's work.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeyExpr: String, maxBlock: Int = 64): DataFrame = {
    val base = df.select(col(idCol), expr(blockKeyExpr).as("blk"), col(textCol).as("__txt"))
    val capped = base
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .where(col("__bn") <= maxBlock)
    val words = capped
      .select(col(idCol), col("blk"),
        explode(expr("array_distinct(split(__txt, ' '))")).as("w"))
    val sizes = words.groupBy(col(idCol)).agg(count(lit(1)).as("nw"))
    // exploded word table inherits the (tiny) parquet scan's size estimate,
    // so Catalyst would broadcast a multi-hundred-MB exploded side; force a
    // shuffle merge join on (blk, w)
    val inter = words.as("a").hint("shuffle_merge").join(words.as("b"),
        col("a.blk") === col("b.blk") && col("a.w") === col("b.w") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "da").withColumnRenamed("nw", "na"), "da")
      .join(sizes.withColumnRenamed(idCol, "db").withColumnRenamed("nw", "nb"), "db")
      .select(col("da"), col("db"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("unn"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
          .as("jaccard"))
  }
}
