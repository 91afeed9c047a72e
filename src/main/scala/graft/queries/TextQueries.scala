package graft.queries

import graft.ops.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries: tokenization (the input_hint table),
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), ANN similarity
  * (brute cosine + LSH buckets), text analysis (lang-ID, quality, token
  * counts, fingerprints). Each has a DuckDB twin built from the same
  * portable arithmetic (md5, polynomial word hash, IEEE doubles).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** DuckDB twin of TextOps.wordHashExpr. */
  private def dwh(w: String): String =
    s"list_reduce(list_prepend(0, generate_series(1, len($w))), " +
      s"(acc, i) -> acc * 31 + ascii(substring($w, i, 1)))"

  // q19 — documents -> input_hint table (doc_id string, tokens array<int32>,
  // n_tok, source). TextOps.tokenize emits the true input_hint shape; the
  // COMPARABLE projection is array-free (md5 over the joined token list)
  // because the driver's pandas canonicalizer cannot sort array columns
  // (CORRECTNESS_r01 q19: "unhashable type: numpy.ndarray").
  val q19: Q = (s, d) =>
    TextOps.tokenize(Views.table(s, d, "documents"))
      .select(col("doc_id"),
        expr("md5(concat_ws(',', transform(tokens, t -> CAST(t AS STRING))))")
          .as("tokens_md5"),
        col("n_tok"), col("source"))

  val q19Sql: String =
    s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       | md5(array_to_string(list_transform(string_split(text, ' '),
       |   w -> CAST(CAST(${dwh("w")} % 50257 AS INTEGER) AS VARCHAR)), ',')) AS tokens_md5,
       | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
       | source
       |FROM documents""".stripMargin

  // q20 — exact dedup on a 2-word-prefix hash key.
  private val prefixKeySpark = "md5(concat_ws(' ', slice(split(text, ' '), 1, 2)))"
  private val prefixKeyDuck = "md5(array_to_string(string_split(text, ' ')[1:2], ' '))"

  val q20: Q = (s, d) => Dedup.exact(Views.table(s, d, "documents"), "doc_id", prefixKeySpark)

  val q20Sql: String =
    s"""WITH d AS (SELECT doc_id, $prefixKeyDuck AS dup_key FROM documents)
       |SELECT doc_id, dup_key,
       | count(*) OVER (PARTITION BY dup_key) AS group_size,
       | doc_id = min(doc_id) OVER (PARTITION BY dup_key) AS is_canonical
       |FROM d""".stripMargin

  // q21 — MinHash+LSH near-dup candidate pairs (5-gram shingles, 8 32-bit
  // lanes sliced from 2 salted md5s, r=2 bands, hot buckets > 128 dropped
  // deterministically on BOTH engines).
  val q21: Q = (s, d) =>
    Dedup.minHashLshPairs(Views.table(s, d, "documents"), "doc_id", "text", 5, 8, 2, 128)

  val q21Sql: String = {
    val mins = (0 until 8).map(i =>
      s"min(substring(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS mh$i").mkString(", ")
    val bands = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS j, mh${2 * j} || mh${2 * j + 1} AS b FROM sig").mkString(" UNION ALL ")
    s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 5) AS s
       |  FROM documents, UNNEST(generate_series(1, greatest(len(text) - 4, 1))) AS t(i)),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY 1),
       |bands AS ($bands),
       |cb AS (SELECT doc_id, j, b FROM
       |  (SELECT doc_id, j, b, count(*) OVER (PARTITION BY j, b) AS bn FROM bands)
       |  WHERE bn <= 128)
       |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |FROM cb a JOIN cb b ON a.j = b.j AND a.b = b.b AND a.doc_id < b.doc_id""".stripMargin
  }

  // q22 — 16-bit SimHash signatures.
  val q22: Q = (s, d) => Dedup.simHash(Views.table(s, d, "documents"), "doc_id", "text", 16)

  val q22Sql: String = {
    val terms = (0 until 16).map { j =>
      val digit = j / 4 + 1
      val shift = 1 << (j % 4)
      s"(CASE WHEN list_sum(list_transform(hs, x -> 2 * ((x[$digit] // $shift) % 2) - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '), w -> list_transform(generate_series(1, 4),
       |    p -> strpos('0123456789abcdef', substring(md5(w), p, 1)) - 1)) AS hs
       |  FROM documents)
       |SELECT doc_id, $terms AS simhash FROM h""".stripMargin
  }

  // q23 — exact word-set Jaccard within 2-word-prefix blocks (blocks with
  // more than 64 docs dropped deterministically on both engines).
  val q23: Q = (s, d) =>
    Dedup.jaccardPairs(Views.table(s, d, "documents"), "doc_id", "text", prefixKeySpark, 64)

  val q23Sql: String =
    s"""WITH d0 AS (SELECT doc_id, text, $prefixKeyDuck AS blk FROM documents),
       |d AS (SELECT doc_id, text, blk FROM
       |  (SELECT doc_id, text, blk, count(*) OVER (PARTITION BY blk) AS bn FROM d0)
       |  WHERE bn <= 64),
       |w AS (SELECT doc_id, blk,
       |  unnest(list_distinct(string_split(text, ' '))) AS w FROM d),
       |sz AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY 1),
       |it AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM w a JOIN w b ON a.blk = b.blk AND a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, inter, sa.nw + sb.nw - inter AS unn,
       | CAST(inter AS DOUBLE) / CAST(sa.nw + sb.nw - inter AS DOUBLE) AS jaccard
       |FROM it JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db""".stripMargin

  // q24 — brute-force cosine top-5 for query subset (vec_id % 40 = 0).
  val q24: Q = (s, d) =>
    Similarity.cosineKnnBrute(Views.table(s, d, "embeddings"), "vec_id", "embedding",
      "vec_id % 40 = 0", 5)

  val q24Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
      |  list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2 FROM embeddings),
      |q AS (SELECT vec_id AS qid, emb AS qe, n2 AS qn2 FROM e WHERE vec_id % 40 = 0),
      |s AS (SELECT qid, e.vec_id AS nid, list_inner_product(qe, e.emb) / sqrt(qn2 * e.n2) AS cos
      |  FROM q JOIN e ON e.vec_id <> qid),
      |r AS (SELECT qid, nid, cos,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
      |SELECT qid, nid, rank, cos FROM r WHERE rank <= 5""".stripMargin

  // q25 — banded multi-table ANN top-3 (12 tables x 4 sign-test bits,
  // OR-construction) with query-side Hamming-1 MULTI-PROBE; recall vs the
  // exact baseline measured by q37. Corpus-side hot buckets past
  // AnnMaxBucket are dropped deterministically on BOTH engines (the
  // Dedup.maxBucket discipline ported to the ANN family; audited by q52).
  private val AnnBandBits = 4
  private val AnnBands = 12
  private val AnnMaxBucket = Similarity.DefaultMaxBucket

  val q25: Q = (s, d) =>
    Similarity.cosineKnnLshBanded(Views.table(s, d, "embeddings"), "vec_id", "embedding",
      "vec_id % 40 = 0", 3, AnnBandBits, AnnBands, 64, multiProbe = true,
      maxBucket = AnnMaxBucket)

  /** DuckDB twin of Similarity.lshBucketExpr for band `g`. */
  private def duckBand(g: Int): String =
    (0 until AnnBandBits).map { j =>
      val gi = g * AnnBandBits + j
      val p = (gi * 7) % 64 + 1
      val q = (gi * 13 + 3) % 64 + 1
      s"(CASE WHEN embedding[$p] > embedding[$q] THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared CTE body: banded candidate pairs + scored + ranked (lr), and
    * the exact brute-force ranking (br) for recall measurement.
    */
  private val annSql: String = {
    val bandSelects = (0 until AnnBands).map(g =>
      s"SELECT vec_id, $g AS g, ${duckBand(g)} AS bkt FROM embeddings").mkString(" UNION ALL ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2 FROM embeddings),
       |bands AS ($bandSelects),
       |cb AS (SELECT vec_id, g, bkt FROM
       |  (SELECT vec_id, g, bkt, count(*) OVER (PARTITION BY g, bkt) AS bn FROM bands)
       |  WHERE bn <= $AnnMaxBucket),
       |qb AS (SELECT vec_id AS qid, g, xor(bkt, m) AS bkt
       |  FROM bands, UNNEST([0, 1, 2, 4, 8]) AS t(m) WHERE vec_id % 40 = 0),
       |pairs AS (SELECT DISTINCT qb.qid, nb.vec_id AS nid
       |  FROM qb JOIN cb nb ON nb.g = qb.g AND nb.bkt = qb.bkt AND nb.vec_id <> qb.qid),
       |ls AS (SELECT p.qid, p.nid, list_inner_product(q.emb, n.emb) / sqrt(q.n2 * n.n2) AS cos
       |  FROM pairs p JOIN e q ON q.vec_id = p.qid JOIN e n ON n.vec_id = p.nid),
       |lr AS (SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM ls),
       |bs AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |  list_inner_product(q.emb, e.emb) / sqrt(q.n2 * e.n2) AS cos
       |  FROM e q JOIN e ON e.vec_id <> q.vec_id WHERE q.vec_id % 40 = 0),
       |br AS (SELECT qid, nid,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bs)""".stripMargin
  }

  val q25Sql: String =
    s"""WITH $annSql
       |SELECT qid, nid, rank, cos FROM lr WHERE rank <= 3""".stripMargin

  // q37 — measured ANN recall: |lsh top-3 ∩ exact top-3| / (3 * |queries|).
  // Integer hit counts on both engines; the only float is one final
  // division of the same two integers.
  val q37: Q = (s, d) => {
    val emb = Views.table(s, d, "embeddings")
    val brute = Similarity.cosineKnnBrute(emb, "vec_id", "embedding", "vec_id % 40 = 0", 3)
      .select("qid", "nid")
    val lsh = Similarity.cosineKnnLshBanded(emb, "vec_id", "embedding",
      "vec_id % 40 = 0", 3, AnnBandBits, AnnBands, 64, multiProbe = true)
      .select("qid", "nid")
    // ONE pass over ONE joined subtree (r6, guide §1.2): the old shape
    // semi-joined for n_hits and separately aggregated brute for
    // n_queries, then cross-joined the two single-row aggregates — the
    // expensive brute subtree executed twice. A left join against the
    // (qid, nid)-unique lsh top-3 preserves brute's rows exactly (no
    // duplication), so countDistinct(qid) is unchanged and the match-flag
    // count equals the semi-join count.
    val flagged = brute.join(lsh.withColumn("__hit", lit(1)), Seq("qid", "nid"), "left")
    flagged.agg(countDistinct(col("qid")).as("n_queries"),
        count(col("__hit")).as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        (col("n_hits").cast("double") / (col("n_queries").cast("double") * 3.0)).as("recall"))
  }

  val q37Sql: String =
    s"""WITH $annSql,
       |b3 AS (SELECT qid, nid FROM br WHERE rank <= 3),
       |l3 AS (SELECT qid, nid FROM lr WHERE rank <= 3),
       |h AS (SELECT count(*) AS n_hits FROM b3 JOIN l3 ON l3.qid = b3.qid AND l3.nid = b3.nid),
       |nq AS (SELECT count(DISTINCT qid) AS n_queries FROM b3)
       |SELECT CAST(nq.n_queries AS BIGINT) AS n_queries, CAST(h.n_hits AS BIGINT) AS n_hits,
       | CAST(h.n_hits AS DOUBLE) / (CAST(nq.n_queries AS DOUBLE) * 3.0) AS recall
       |FROM nq, h""".stripMargin

  // q50 — embedding-cosine NEAR-DUP dedup (the last dedup-family member):
  // LSH-banded candidate pairs (Hamming-1 multi-probe left side) with
  // exact cosine >= 0.45 over the full embeddings table. The oracle
  // mirrors the bucket schedule exactly, so the comparison is exact (LSH
  // recall is measured separately by q37).
  val q50: Q = (s, d) =>
    Similarity.cosineNearDupPairs(Views.table(s, d, "embeddings"), "vec_id", "embedding",
      0.45, AnnBandBits, AnnBands, 64, maxBucket = AnnMaxBucket)

  val q50Sql: String = {
    val bandSelects = (0 until AnnBands).map(g =>
      s"SELECT vec_id, $g AS g, ${duckBand(g)} AS bkt FROM embeddings").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2 FROM embeddings),
       |bands AS ($bandSelects),
       |cb AS (SELECT vec_id, g, bkt FROM
       |  (SELECT vec_id, g, bkt, count(*) OVER (PARTITION BY g, bkt) AS bn FROM bands)
       |  WHERE bn <= $AnnMaxBucket),
       |ab AS (SELECT vec_id, g, xor(bkt, m) AS bkt
       |  FROM bands, UNNEST([0, 1, 2, 4, 8]) AS t(m)),
       |pairs AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
       |  FROM ab a JOIN cb b ON b.g = a.g AND b.bkt = a.bkt AND a.vec_id < b.vec_id),
       |scored AS (SELECT p.da, p.db,
       |  list_inner_product(x.emb, y.emb) / sqrt(x.n2 * y.n2) AS cos
       |  FROM pairs p JOIN e x ON x.vec_id = p.da JOIN e y ON y.vec_id = p.db)
       |SELECT da, db, cos FROM scored WHERE cos >= 0.45""".stripMargin
  }

  // q52 — band-bucket audit for the ANN/near-dup cap: EVERY (table,
  // bucket) population with its drop flag (Similarity.bucketAudit — the
  // "no silent truncation" companion of q25/q50). At test scale nothing
  // is dropped (all `dropped = false`); the oracle proves the POPULATION
  // arithmetic, which is what the cap fires on.
  val q52: Q = (s, d) =>
    Similarity.bucketAudit(Views.table(s, d, "embeddings"), "vec_id", "embedding",
      AnnBandBits, AnnBands, 64, AnnMaxBucket)

  val q52Sql: String = {
    val bandSelects = (0 until AnnBands).map(g =>
      s"SELECT vec_id, $g AS g, ${duckBand(g)} AS bkt FROM embeddings").mkString(" UNION ALL ")
    s"""WITH bands AS ($bandSelects)
       |SELECT CAST(g AS BIGINT) AS g, CAST(bkt AS BIGINT) AS bkt,
       | count(*) AS n_vec, count(*) > $AnnMaxBucket AS dropped
       |FROM bands GROUP BY g, bkt""".stripMargin
  }

  // q26 — marker-profile language/topic ID.
  val q26: Q = (s, d) => TextOps.langId(Views.table(s, d, "documents"))

  val q26Sql: String = {
    val profs = TextOps.LangProfiles
    val counts = profs.map { case (n, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS BIGINT) AS n_$n"
    }.mkString(", ")
    val names = profs.map(_._1)
    val pred = names.init.zipWithIndex.foldRight(s"'${names.last}'") { case ((n, i), els) =>
      val ge = names.drop(i + 1).map(m => s"n_$n >= n_$m").mkString(" AND ")
      s"CASE WHEN $ge THEN '$n' ELSE $els END"
    }
    s"""WITH c AS (SELECT doc_id, $counts FROM documents)
       |SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")}, $pred AS lang_pred FROM c""".stripMargin
  }

  // q27 — quality scoring.
  val q27: Q = (s, d) => TextOps.quality(Views.table(s, d, "documents"))

  val q27Sql: String =
    """WITH c AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) >= 6)) AS BIGINT) AS n_long,
      |  CAST(len(text) AS BIGINT) AS n_chars FROM documents)
      |SELECT doc_id, n_words, n_stop, n_long,
      | (CAST(n_chars AS DOUBLE) - CAST(n_words - 1 AS DOUBLE)) / CAST(n_words AS DOUBLE) AS avg_word_len,
      | CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
      | CAST(n_long AS DOUBLE) / CAST(n_words AS DOUBLE) AS long_ratio,
      | 0.5 * (CAST(n_long AS DOUBLE) / CAST(n_words AS DOUBLE))
      |  + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE))
      |  + 0.2 * least(((CAST(n_chars AS DOUBLE) - CAST(n_words - 1 AS DOUBLE)) / CAST(n_words AS DOUBLE)) / 8.0, 1.0) AS quality
      |FROM c""".stripMargin

  // q28 — token counting (whitespace + BPE-ish regex).
  val q28: Q = (s, d) => TextOps.tokenCounts(Views.table(s, d, "documents"))

  val q28Sql: String =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re,
      | CAST(len(text) AS BIGINT) AS n_chars_computed
      |FROM documents""".stripMargin

  // q29 — positional rolling-hash fingerprint.
  val q29: Q = (s, d) => TextOps.fingerprint(Views.table(s, d, "documents"))

  val q29Sql: String =
    s"""WITH h AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '), w -> ${dwh("w")} % 1000003) AS whs
       |  FROM documents)
       |SELECT doc_id,
       | CAST(list_reduce(list_prepend(0, generate_series(1, len(whs))),
       |   (acc, i) -> acc + whs[i] * ((i * 2654435761) % 1000003)) AS BIGINT) AS fingerprint
       |FROM h""".stripMargin

  // q54 — IVF ANN top-5 over the same query subset as q24: deterministic
  // centroid rule (every 7th id, first 16), nearest-centroid cell
  // assignment, probe the 4 nearest cells, exact re-rank of probed-cell
  // candidates. With nProbe == nCells this equals q24 exactly (unit
  // anchor); at 4/16 it is the IVF scale path's oracle row.
  private val IvfCells = 16
  private val IvfProbe = 4
  private val IvfGap = 7L

  val q54: Q = (s, d) =>
    Similarity.cosineKnnIvf(Views.table(s, d, "embeddings"), "vec_id", "embedding",
      "vec_id % 40 = 0", 5, IvfCells, IvfProbe, IvfGap)

  val q54Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2 FROM embeddings),
       |c AS (SELECT vec_id AS cid, emb AS ce, n2 AS cn2 FROM e
       |  WHERE vec_id % $IvfGap = 0 AND vec_id < ${IvfCells * IvfGap}),
       |a AS (SELECT nid, cell FROM (
       |  SELECT e.vec_id AS nid, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(e.emb, c.ce) / sqrt(e.n2 * c.cn2) DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, emb AS qe, n2 AS qn2 FROM e WHERE vec_id % 40 = 0),
       |p AS (SELECT qid, cell FROM (
       |  SELECT q.qid, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY list_inner_product(q.qe, c.ce) / sqrt(q.qn2 * c.cn2) DESC, c.cid) AS rn
       |  FROM q CROSS JOIN c) WHERE rn <= $IvfProbe),
       |cand AS (SELECT DISTINCT p.qid, a.nid FROM p JOIN a USING (cell) WHERE a.nid <> p.qid),
       |s AS (SELECT cand.qid, cand.nid,
       |  list_inner_product(q.qe, e.emb) / sqrt(q.qn2 * e.n2) AS cos
       |  FROM cand JOIN q ON q.qid = cand.qid JOIN e ON e.vec_id = cand.nid),
       |r AS (SELECT qid, nid, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
       |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM r WHERE rank <= 5""".stripMargin

  // q30 — multimodal metadata: binary payload + typed metadata + frame
  // sampling plumbing (decode itself is stubbed; see ops/Multimodal).
  val q30: Q = (s, d) => {
    val bin = graft.ops.Multimodal.asBinaryTable(Views.table(s, d, "documents"))
    graft.ops.Multimodal.frameSample(bin, stride = 16, maxFrames = 8)
      .join(bin.select(col("doc_id"), col("meta.n_bytes").as("n_bytes")), "doc_id")
      .select("doc_id", "n_bytes", "n_frames")
  }

  val q30Sql: String =
    """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
      | CAST(len(text) AS BIGINT) AS n_bytes,
      | CAST(least(CAST(ceil(len(text) / 16.0) AS INTEGER), 8) AS BIGINT) AS n_frames
      |FROM documents""".stripMargin

  val defs: Map[String, Q] = Map(
    "q54_knn_ivf" -> q54,
    "q52_bucket_audit" -> q52,
    "q50_embed_neardup" -> q50,
    "q30_multimodal_meta" -> q30,
    "q37_ann_recall" -> q37,
    "q19_tokenize" -> q19,
    "q20_dedup_exact" -> q20,
    "q21_minhash_lsh" -> q21,
    "q22_simhash" -> q22,
    "q23_ngram_jaccard" -> q23,
    "q24_knn_cosine" -> q24,
    "q25_knn_lsh" -> q25,
    "q26_langid" -> q26,
    "q27_quality" -> q27,
    "q28_token_count" -> q28,
    "q29_fingerprint" -> q29)

  val oracles: Map[String, String] = Map(
    "q54_knn_ivf" -> q54Sql,
    "q52_bucket_audit" -> q52Sql,
    "q50_embed_neardup" -> q50Sql,
    "q30_multimodal_meta" -> q30Sql,
    "q37_ann_recall" -> q37Sql,
    "q19_tokenize" -> q19Sql,
    "q20_dedup_exact" -> q20Sql,
    "q21_minhash_lsh" -> q21Sql,
    "q22_simhash" -> q22Sql,
    "q23_ngram_jaccard" -> q23Sql,
    "q24_knn_cosine" -> q24Sql,
    "q25_knn_lsh" -> q25Sql,
    "q26_langid" -> q26Sql,
    "q27_quality" -> q27Sql,
    "q28_token_count" -> q28Sql,
    "q29_fingerprint" -> q29Sql)
}
