package graft.ops

import graft.Cut.CutOps
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group J — LLM-data-pipeline operators (SURVEY.md §2.1 J): dedup,
  * similarity, text analysis, vectors, multimodal metadata.
  *
  * Scale notes:
  * - exact dedup is a hash-groupBy (shuffle carries md5+id, not text);
  * - the exact Jaccard pair-join generates candidates by PREFIX
  *   FILTERING (lossless at the 0.9 threshold; block key = prefix token,
  *   cardinality ∝ vocabulary); `text_minhash_lsh` (band-bucket join) is
  *   the probabilistic alternative at lower thresholds (SURVEY.md §7.6);
  * - vector math stays in higher-order functions (codegen'd, no UDF);
  *   brute-force cosine top-k is the verifiable baseline — at scale the
  *   same plan becomes block-local top-k + TakeOrderedAndProject merge.
  */
object TextVecOps extends OpGroup {

  /** (doc_id, lang, toks) — each doc's distinct tokens as SORTED xxhash64
    * longs, shared by the exact-Jaccard pair join and the MinHash LSH
    * pipeline (identical derivation; set cardinalities — and so Jaccard —
    * are unchanged by hashing, and the per-pair intersection becomes the
    * codegen'd two-pointer `sorted_intersect_size` merge). Materialized
    * once per (session, sfDir): the LSH op alone references the frame
    * three times (signature build + both verify sides), and without the
    * checkpoint each reference re-runs the interpreted tokenize HOF over
    * the corpus. Registered with [[graft.Caches]]; the repartition spreads
    * the HOF across cores (documents.parquet is one file → one input
    * partition otherwise).
    */
  private val tokenSets = graft.Fixture("token_sets",
      Set("text_near_dup_jaccard", "text_minhash_lsh")) { (s, dir) =>
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        expr("array_sort(transform(array_distinct(split(text, ' ')), t -> xxhash64(t)))").as("toks"))
      .cut
  }

  /** Lossless AllPairs/PPJoin prefix-filtered exact-Jaccard pair join
    * (Bayardo et al. WWW'07, Xiao et al. WWW'08), shared by the token
    * (t = 9/10) and shingle (t = 4/5) near-dup ops. `d` must carry
    * (doc_id, lang, `setCol`: sorted distinct hash longs). Under the
    * global sorted-hash order, j(a,b) >= t forces a shared element
    * inside each side's first |x| - ceil(t·|x|) + 1 entries, so the
    * candidate join keys on an exploded prefix element — a block key
    * whose cardinality scales with the vocabulary — plus the size-ratio
    * prune t·max(|a|,|b|) <= min implied by the threshold. ceil is exact
    * integer arithmetic ((tNum·n + tDen − 1) div tDen); both prunes are
    * implied by the final j-filter, so callers' DuckDB oracles stay the
    * plain blocked form. Exact verify rejoins the arrays BY ID (the
    * candidate shuffle carries ids, never arrays) and runs the codegen'd
    * two-pointer `sorted_intersect_size`. Returns (a, b, j).
    */
  private def prefixJaccardPairs(d: org.apache.spark.sql.DataFrame,
      setCol: String, tNum: Int, tDen: Int): org.apache.spark.sql.DataFrame = {
    val e = d.filter(expr(s"size($setCol) > 0"))
      .select(col("doc_id"), col("lang"), size(col(setCol)).as("sz"),
        explode(expr(s"slice($setCol, 1, size($setCol)" +
          s" - CAST(($tNum * size($setCol) + ${tDen - 1}) div $tDen AS INT) + 1)"))
          .as("ptok"))
    val ca = e.select(col("ptok"), col("lang"), col("doc_id").as("a"), col("sz").as("sa"))
    val cb = e.select(col("ptok").as("ptok_b"), col("lang").as("lang_b"),
      col("doc_id").as("b"), col("sz").as("sb"))
    val candidates = ca.join(cb,
        col("ptok") === col("ptok_b") && col("lang") === col("lang_b")
          && col("a") < col("b")
          && expr(s"$tNum * sa <= $tDen * sb AND $tNum * sb <= $tDen * sa"))
      .select("a", "b")
      .dropDuplicates("a", "b")
    candidates
      .join(d.select(col("doc_id").as("a"), col(setCol).as("ta")), "a")
      .join(d.select(col("doc_id").as("b"), col(setCol).as("tb")), "b")
      .withColumn("inter", expr("sorted_intersect_size(ta, tb)").cast("double"))
      .withColumn("uni",
        (expr("size(ta)") + expr("size(tb)")).cast("double") - col("inter"))
      .withColumn("j", col("inter") / col("uni"))
      .filter(col("j") >= tNum.toDouble / tDen)
  }

  val ops: Seq[Op] = Seq(
    Op("text_exact_dedup",
      (s, dir) => {
        Tables.t(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select("keep_id", "text_hash", "n_copies")
          .orderBy("keep_id")
      },
      Some("""
        SELECT MIN(doc_id) AS keep_id, md5(text) AS text_hash, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id
      """.trim)),

    // Exact within-lang near-dup pairs. Both sides compute Jaccard as
    // inter / (|a| + |b| - inter) over distinct token sets.
    Op("text_near_dup_jaccard",
      (s, dir) => {
        // Shared sorted-token-hash frame (tokenSets): intersection is the
        // codegen'd two-pointer merge over longs — sort once per doc, no
        // per-pair allocation. The oracle keeps string tokens (identical
        // counts).
        // Candidate generation is PREFIX-FILTERED (prefixJaccardPairs),
        // not lang-blocked — round-8 verdict flagged the bare-lang pair
        // join as blocked-quadratic at scale; the prefix filter is
        // LOSSLESS at t = 0.9 (deterministic, unlike MinHash banding's
        // ~0.99 recall, so the DuckDB oracle is unchanged). Threshold
        // 0.9: this corpus is homogeneous — at 0.5 nearly every
        // within-lang pair qualifies and the output itself is quadratic.
        prefixJaccardPairs(tokenSets(s, dir), "toks", 9, 10)
          .select(col("a"), col("b"), round(col("j"), 3).as("jaccard"))
          .orderBy("a", "b")
      },
      Some("""
        SELECT a, b, CAST(ROUND(CAST(CAST(inter / uni AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) AS jaccard FROM (
          SELECT x.doc_id AS a, y.doc_id AS b,
            CAST(len(list_filter(x.toks, t -> list_contains(y.toks, t))) AS DOUBLE) AS inter,
            CAST(len(x.toks) + len(y.toks) AS DOUBLE)
              - CAST(len(list_filter(x.toks, t -> list_contains(y.toks, t))) AS DOUBLE) AS uni
          FROM (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents) x
          JOIN (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents) y
            ON x.lang = y.lang AND x.doc_id < y.doc_id
        ) WHERE inter / uni >= 0.9
        ORDER BY a, b
      """.trim)),

    // n-gram (shingle) Jaccard near-dup — the word-3-gram member of the
    // dedup family (the 13-gram variant of this is the classic LLM
    // training-data dedup). ORDER-sensitive where token Jaccard is not:
    // two docs with identical vocabularies but shuffled word order score
    // ~0 here. Same scale story as the token op: prefix-filtered
    // candidate join (lossless at t = 0.8) + size-ratio prune +
    // codegen'd sorted-long intersect; LSH banding over shingle hashes
    // is the probabilistic alternative at lower thresholds.
    Op("text_ngram_jaccard",
      (s, dir) => {
        // Materialized ONCE (localCheckpoint) before the pair join: the
        // shingle pipeline is an interpreted HOF, and without the barrier
        // projection collapse inlines it into the join's size-prune
        // residual — re-evaluating it per candidate PAIR (the round-3
        // simhash lesson; measured 9.7 s vs ~2 s with the checkpoint).
        // ~0.5 KB/doc of sorted longs, the reusable artifact at scale.
        val d = Tables.t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 3)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("lang"),
            expr("""array_sort(transform(array_distinct(
              transform(sequence(1, size(w) - 2), i ->
                concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))),
              g -> xxhash64(g)))""").as("gs"))
          .cut
        // Same lossless prefix filter as the token op, over SHINGLE
        // hashes at t = 4/5 (prefixJaccardPairs) — block key cardinality
        // ∝ shingle vocabulary, so blocks stay bounded at any corpus
        // size (the bare-lang join is a fixed |lang|-way split).
        prefixJaccardPairs(d.select(col("doc_id"), col("lang"), col("gs")), "gs", 4, 5)
          .select(col("a"), col("b"), round(col("j"), 3).as("jaccard3"))
          .orderBy("a", "b")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, lang,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS gs
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 3
        )
        SELECT a, b, CAST(ROUND(CAST(CAST(inter / uni AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) AS jaccard3 FROM (
          SELECT x.doc_id AS a, y.doc_id AS b,
            CAST(len(list_filter(x.gs, t -> list_contains(y.gs, t))) AS DOUBLE) AS inter,
            CAST(len(x.gs) + len(y.gs) AS DOUBLE)
              - CAST(len(list_filter(x.gs, t -> list_contains(y.gs, t))) AS DOUBLE) AS uni
          FROM g x JOIN g y ON x.lang = y.lang AND x.doc_id < y.doc_id
        ) WHERE inter / uni >= 0.8
        ORDER BY a, b
      """.trim)),

    // Non-oracle (hash-family-specific): banded MinHash LSH — the 100 TB
    // replacement for the exact pair-join above. Built from Spark
    // primitives (stays in codegen, no ml blackbox): 100-hash signature
    // via higher-order fns, 10 bands × 10 rows, candidate pairs from a
    // bucket self-join, then exact Jaccard on candidates only. At j=0.9
    // candidate recall is 1-(1-0.9¹⁰)¹⁰ ≈ 0.99 while j=0.5 pairs are
    // almost never candidates (≈1%) — which is what makes this sublinear
    // in practice on a corpus where pairwise similarity is high.
    // ScalaTest checks recall >= 0.8 vs the exact op.
    Op("text_minhash_lsh",
      (s, dir) => {
        val nBands = 10
        val rowsPerBand = 10
        val d = tokenSets(s, dir)
          .filter(expr("size(toks) > 0"))
        // Signature: sig[s] = min over token hashes of xxhash64(th, s) —
        // one custom-expression pass per doc (graft.functions).
        val sigs = d.select(col("doc_id"), col("lang"),
          expr(s"minhash_signature(toks, ${nBands * rowsPerBand})").as("sig"))
        // One row per (doc, band); bucket key = the band's signature slice.
        val bands = sigs.select(col("doc_id"), col("lang"),
          explode(expr(s"transform(sequence(0, ${nBands - 1}), " +
            s"b -> struct(b AS band, slice(sig, b * $rowsPerBand + 1, $rowsPerBand) AS bsig))"))
            .as("bk"))
          .select(col("doc_id"), col("lang"),
            col("bk.band").as("band"), col("bk.bsig").as("bsig"))
        val l = bands.select(col("band"), col("bsig"), col("lang"), col("doc_id").as("a"))
        val r = bands.select(col("band").as("band_r"), col("bsig").as("bsig_r"),
          col("lang").as("lang_r"), col("doc_id").as("b"))
        // Candidate (a, b) pairs dedup'd as bare ids — the token arrays
        // rejoin after the distinct so the shuffle stays narrow.
        val candidates = l.join(r,
            col("band") === col("band_r") && col("bsig") === col("bsig_r")
              && col("lang") === col("lang_r") && col("a") < col("b"))
          .select("a", "b")
          .dropDuplicates("a", "b")
        // Exact verify on candidates only. Plain shuffle joins: the
        // token-array side is corpus-sized and grows with the data, so a
        // broadcast here would be a driver OOM at scale.
        candidates
          .join(d.select(col("doc_id").as("a"), col("toks").as("ta")), "a")
          .join(d.select(col("doc_id").as("b"), col("toks").as("tb")), "b")
          .withColumn("inter", expr("sorted_intersect_size(ta, tb)").cast("double"))
          .withColumn("uni",
            (expr("size(ta)") + expr("size(tb)")).cast("double") - col("inter"))
          .withColumn("j", col("inter") / col("uni"))
          .filter(col("j") >= 0.9)
          .select(col("a"), col("b"), round(lit(1.0) - col("j"), 3).as("jaccard_dist"))
          .orderBy("a", "b")
      },
      None),

    // Canonicalization before dedup: strip stopwords, rebuild the
    // canonical string, fingerprint it — the cleaning step that turns
    // "same modulo boilerplate tokens" into exact-dedup hits. n_same_norm
    // (collision-group size on the NORMALIZED hash) vs a raw-text md5
    // group shows the recall the normalization buys. Per-row transforms,
    // linear; one window for the group size.
    Op("text_normalize",
      (s, dir) => {
        val w = Window.partitionBy("norm_hash")
        Tables.t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("kept", expr("filter(toks, t -> NOT (t IN ('the', 'a')))"))
          .withColumn("norm_hash", md5(array_join(col("kept"), " ")))
          .withColumn("n_same_norm", count(lit(1)).over(w).cast("int"))
          .select(col("doc_id"),
            size(col("toks")).cast("int").as("n_tokens"),
            size(col("kept")).cast("int").as("n_kept"),
            col("norm_hash"), col("n_same_norm"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, n_tokens, n_kept, norm_hash,
          CAST(COUNT(*) OVER (PARTITION BY norm_hash) AS INT) AS n_same_norm
        FROM (
          SELECT doc_id,
            CAST(len(toks) AS INT) AS n_tokens,
            CAST(len(kept) AS INT) AS n_kept,
            md5(array_to_string(kept, ' ')) AS norm_hash
          FROM (
            SELECT doc_id, toks, list_filter(toks, t -> t NOT IN ('the', 'a')) AS kept
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          )
        )
        ORDER BY doc_id
      """.trim)),

    Op("text_tokenize_stats",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val base = docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          round(sum(size(split(col("text"), " ")).cast("long")).cast("double")
            / count(lit(1)), 2).as("avg_tokens"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 2).as("avg_chars"))
        val dist = docs
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("lang").agg(countDistinct(col("tok")).as("n_distinct_tokens"))
        base.join(dist, "lang").orderBy("lang")
      },
      Some("""
        SELECT b.lang, n_docs, avg_tokens, avg_chars, n_distinct_tokens FROM (
          SELECT lang, COUNT(*) AS n_docs,
            CAST(ROUND(CAST(CAST(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) AS avg_tokens,
            CAST(ROUND(CAST(CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(38,15)), 2) AS DOUBLE) AS avg_chars
          FROM documents GROUP BY lang
        ) b JOIN (
          SELECT lang, COUNT(DISTINCT tok) AS n_distinct_tokens
          FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY lang
        ) t ON b.lang = t.lang
        ORDER BY b.lang
      """.trim)),

    // tf-idf with the manual formula tf · ln((N+1)/(df+1)) — identical
    // arithmetic on both sides keeps it oracle-checkable (no ml blackbox).
    Op("text_tfidf_topterms",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val toks = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
        val dfreq = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val nDf = docs.agg(count(lit(1)).as("n_total"))
        val w = Window.partitionBy("lang").orderBy(desc("score"), asc("term"))
        tf.join(dfreq, "term")
          .crossJoin(broadcast(nDf))
          .withColumn("score",
            col("tf").cast("double")
              * log((col("n_total") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")))
          .withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("term"), round(col("score"), 4).as("score"))
          .orderBy("lang", "rank")
      },
      Some("""
        SELECT lang, rank, term,
          CAST(ROUND(CAST(CAST(score AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) AS score FROM (
          SELECT lang, term, score,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term) AS INT) AS rank
          FROM (
            SELECT tf.lang, tf.term,
              CAST(tf AS DOUBLE) * ln(CAST(n_total + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
            FROM (SELECT lang, term, COUNT(*) AS tf FROM
                   (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
                 GROUP BY lang, term) tf
            JOIN (SELECT term, COUNT(*) AS df FROM
                   (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
                 GROUP BY term) d ON tf.term = d.term
            CROSS JOIN (SELECT COUNT(*) AS n_total FROM documents)
          )
        ) WHERE rank <= 5
        ORDER BY lang, rank
      """.trim)),

    Op("vec_norm",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            round(sqrt(expr("vec_norm_sq(embedding)")), 3).as("norm"))
          .orderBy("vec_id")
      },
      Some("""
        SELECT vec_id,
          CAST(ROUND(CAST(CAST(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
            AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) AS norm
        FROM embeddings ORDER BY vec_id
      """.trim)),

    // Brute-force cosine top-k of the query vector (vec_id=0): the
    // verifiable ANN baseline. Query vector broadcast; per-row math in
    // higher-order functions.
    Op("vec_cosine_topk",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qemb"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("dot", expr("vec_dot(embedding, qemb)"))
          .withColumn("sim",
            col("dot") / (Tables.safeNorm("embedding") * Tables.safeNorm("qemb")))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(10)
          .select(col("vec_id"), (round(col("sim"), 3) + 0.0).as("cos_sim"))
          .orderBy(desc("cos_sim"), asc("vec_id"))
      },
      Some("""
        SELECT vec_id, cos_sim FROM (
          SELECT vec_id,
            CAST(ROUND(CAST(CAST(sim AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE) + 0.0 AS cos_sim, sim FROM (
            SELECT vec_id,
              list_dot_product(CAST(embedding AS DOUBLE[]), qemb)
                / (sqrt(greatest(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 1e-300))
                   * sqrt(greatest(list_sum(list_transform(qemb, x -> x * x)), 1e-300))) AS sim
            FROM embeddings,
              (SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings WHERE vec_id = 0)
            WHERE vec_id <> 0
          ) ORDER BY sim DESC, vec_id LIMIT 10
        ) ORDER BY cos_sim DESC, vec_id
      """.trim)),

    // Per-label centroid: posexplode → (label, pos) mean → position-ordered
    // array rebuild. At scale this is one shuffle of (label, pos, partial).
    Op("vec_centroid_label",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg((sum(col("v").cast("double")) / count(lit(1))).as("dim_avg"))
          .groupBy("label")
          // Position-ordered rebuild, dumped as a fixed-format joined string
          // (SURVEY §2.0 rule 8). round-then-%.4f is tie-free: the rounded
          // double is never exactly halfway at the 4th decimal, so Java's
          // HALF_UP and C's round-half-even formatting agree; `+ 0.0`
          // normalizes -0.0.
          .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, dim_avg))), " +
            "s -> format_string('%.4f', round(s.dim_avg, 4) + 0.0d)), ',')")
            .as("centroid"))
          .orderBy("label")
      },
      Some("""
        SELECT label, array_to_string(list(printf('%.4f', ROUND(dim_avg, 4) + 0.0) ORDER BY pos), ',') AS centroid FROM (
          SELECT label, pos, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS dim_avg FROM (
            SELECT label,
              generate_subscripts(embedding, 1) - 1 AS pos,
              unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings
          ) GROUP BY label, pos
        ) GROUP BY label ORDER BY label
      """.trim)),

    // Multimodal columns: text metadata + vector-derived feature in one
    // nested struct per row.
    Op("multimodal_join",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val emb = Tables.t(s, dir, "embeddings")
        // Struct assembled internally; dumped as a flat joined string
        // (SURVEY §2.0 rule 8 — no STRUCT columns in the dumped frame).
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("doc_id"),
            concat_ws("|",
              col("doc_id"), col("lang"), col("n_chars"),
              format_string("%.3f",
                round(sqrt(expr("vec_norm_sq(embedding)")), 3) + 0.0)).as("meta"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
          concat_ws('|', doc_id, lang, n_chars,
            printf('%.3f', ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 3) + 0.0)) AS meta
        FROM documents JOIN embeddings ON doc_id = vec_id
        ORDER BY doc_id
      """.trim)),

    // Null/blank audit + fill rules over a deterministically-derived
    // nullable projection (the raw data has no NULLs).
    Op("quality_null_report",
      (s, dir) => {
        Tables.t(s, dir, "orders")
          .select(
            expr("nullif(o_orderstatus, 'P')").as("status_n"),
            expr("nullif(o_orderpriority, '4-NOT SPECIFIED')").as("prio_n"))
          .agg(
            count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col("status_n"))).as("n_status_null"),
            (count(lit(1)) - count(col("prio_n"))).as("n_prio_null"),
            count(when(coalesce(col("status_n"), lit("FILLED")) === "FILLED", 1))
              .as("n_status_filled"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
          COUNT(*) - COUNT(NULLIF(o_orderstatus, 'P')) AS n_status_null,
          COUNT(*) - COUNT(NULLIF(o_orderpriority, '4-NOT SPECIFIED')) AS n_prio_null,
          COUNT(CASE WHEN COALESCE(NULLIF(o_orderstatus, 'P'), 'FILLED') = 'FILLED' THEN 1 END) AS n_status_filled
        FROM orders
      """.trim)),

    // Per-group IQR outlier report (Tukey fences) — the numeric-quality
    // twin of quality_null_report. Quartiles use NEAREST-RANK (value at
    // row ceil(q·n) of the per-group sort), not interpolation: both
    // engines interpolate percentiles in different ulps, but the rank
    // formulation picks an actual 2-dp data value identically (same
    // row_number trick as agg_percentile). One window pass + a broadcast
    // join of ~5 group-stat rows; fences are IEEE-identical both sides.
    Op("quality_outlier_iqr",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"),
            col("o_orderkey"))
        val w = Window.partitionBy("g").orderBy("v", "o_orderkey")
        val ranked = o
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
        val quart = ranked.groupBy("g").agg(
          max(when(col("rn") === expr("CAST(CEIL(0.25 * n) AS BIGINT)"), col("v"))).as("q1"),
          max(when(col("rn") === expr("CAST(CEIL(0.75 * n) AS BIGINT)"), col("v"))).as("q3"))
        val out = col("v") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
          col("v") > col("q3") + (col("q3") - col("q1")) * 1.5
        ranked.join(broadcast(quart), "g")
          .groupBy("g").agg(
            count(lit(1)).as("n_rows"),
            count(when(out, 1)).as("n_outliers"),
            min(when(out, col("v"))).as("min_outlier"),
            max(when(out, col("v"))).as("max_outlier"))
          .orderBy("g")
      },
      Some("""
        WITH ranked AS (
          SELECT o_orderpriority AS g, o_totalprice AS v,
            CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
            COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders
        ), quart AS (
          SELECT g,
            MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN v END) AS q1,
            MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN v END) AS q3
          FROM ranked GROUP BY g
        )
        SELECT g, COUNT(*) AS n_rows,
          COUNT(CASE WHEN v < q1 - (q3 - q1) * 1.5 OR v > q3 + (q3 - q1) * 1.5 THEN 1 END) AS n_outliers,
          MIN(CASE WHEN v < q1 - (q3 - q1) * 1.5 OR v > q3 + (q3 - q1) * 1.5 THEN v END) AS min_outlier,
          MAX(CASE WHEN v < q1 - (q3 - q1) * 1.5 OR v > q3 + (q3 - q1) * 1.5 THEN v END) AS max_outlier
        FROM ranked JOIN quart USING (g)
        GROUP BY g ORDER BY g
      """.trim)),

    // Pivot with the pinned 5-value event_type list (FIXTURES.md).
    Op("pivot_events_wide",
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val wide = Tables.events(s, dir)
          .groupBy("user_id")
          .pivot("event_type", types)
          .count()
        wide.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id,
          COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
          COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        FROM events GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Unpivot (melt) — the inverse of pivot_events_wide: wide per-user
    // counts back to long (user_id, event_type, n). unpivot(pivot(x))
    // restricted to n>0 equals the direct group count, which is exactly
    // what the oracle states. Narrow projection in, explode-shaped out —
    // no extra shuffle beyond the pivot's own aggregate.
    Op("unpivot_events_long",
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val wide = Tables.events(s, dir)
          .groupBy("user_id")
          .pivot("event_type", types)
          .count()
        wide.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
          .filter(col("n") > 0)
          .orderBy("user_id", "event_type")
      },
      Some("""
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type
      """.trim)),

    // Column-profile report over orders — the dbt-docs/Deequ-profiler
    // shape: per column (key, FK, status, price, date) the row count,
    // null count, exact distinct count, and min/max rendered through
    // TYPE-PINNED string casts (BIGINT → digits, price → DECIMAL(18,2)
    // text, date → fixed yyyy-MM-dd HH:mm:ss — never a raw double/
    // timestamp repr, which differ across engines). ONE single-column
    // aggregate PER PROFILED COLUMN, unioned — a single multi-distinct
    // aggregate was measured 2.5× slower (round 10): its 5 exact
    // distincts share one 6-way Expand, so every input row is hashed six
    // times; the split branches each plan a no-Expand two-phase
    // distinct over a COLUMN-PRUNED scan (parquet reads exactly one
    // column per branch — same total I/O as one full-width scan) and the
    // five branches' stages schedule concurrently. At 100 TB: per
    // branch, nothing per-row leaves the map side except distinct keys.
    Op("quality_column_profile",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        def prof(name: String, nd: org.apache.spark.sql.Column,
                 vmin: org.apache.spark.sql.Column, vmax: org.apache.spark.sql.Column) =
          o.agg(
              count(lit(1)).as("n"),
              sum(when(col(name).isNull, 1L).otherwise(0L)).as("n_null"),
              countDistinct(nd).as("n_distinct"),
              vmin.as("vmin"), vmax.as("vmax"))
            .select(lit(name).as("column_name"), col("n"), col("n_null"),
              col("n_distinct"), col("vmin"), col("vmax"))
        prof("o_orderkey", col("o_orderkey"),
            min(col("o_orderkey")).cast("string"), max(col("o_orderkey")).cast("string"))
          .unionAll(prof("o_custkey", col("o_custkey"),
            min(col("o_custkey")).cast("string"), max(col("o_custkey")).cast("string")))
          .unionAll(prof("o_orderstatus", col("o_orderstatus"),
            min(col("o_orderstatus")), max(col("o_orderstatus"))))
          // Distinct on the RAW double: the column is 2-dp by contract,
          // so distinct doubles ≡ distinct DECIMAL(18,2) values, and the
          // distinct rows hash an 8-byte double instead of a decimal.
          .unionAll(prof("o_totalprice", col("o_totalprice"),
            min(Tables.dec2(col("o_totalprice"))).cast("string"),
            max(Tables.dec2(col("o_totalprice"))).cast("string")))
          .unionAll(prof("o_orderdate", col("o_orderdate"),
            date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")))
          .orderBy("column_name")
      },
      Some("""
        WITH m AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
            COUNT(DISTINCT o_orderkey) AS nd_key,
            CAST(MIN(o_orderkey) AS VARCHAR) AS min_key,
            CAST(MAX(o_orderkey) AS VARCHAR) AS max_key,
            CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
            COUNT(DISTINCT o_custkey) AS nd_cust,
            CAST(MIN(o_custkey) AS VARCHAR) AS min_cust,
            CAST(MAX(o_custkey) AS VARCHAR) AS max_cust,
            CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_status,
            COUNT(DISTINCT o_orderstatus) AS nd_status,
            MIN(o_orderstatus) AS min_status,
            MAX(o_orderstatus) AS max_status,
            CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
            COUNT(DISTINCT o_totalprice) AS nd_price,
            CAST(MIN(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS VARCHAR) AS min_price,
            CAST(MAX(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS VARCHAR) AS max_price,
            CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_date,
            COUNT(DISTINCT o_orderdate) AS nd_date,
            strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
            strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
          FROM orders)
        SELECT * FROM (
          SELECT 'o_orderkey' AS column_name, n, null_key AS n_null, nd_key AS n_distinct,
            min_key AS vmin, max_key AS vmax FROM m
          UNION ALL SELECT 'o_custkey', n, null_cust, nd_cust, min_cust, max_cust FROM m
          UNION ALL SELECT 'o_orderstatus', n, null_status, nd_status, min_status, max_status FROM m
          UNION ALL SELECT 'o_totalprice', n, null_price, nd_price, min_price, max_price FROM m
          UNION ALL SELECT 'o_orderdate', n, null_date, nd_date, min_date, max_date FROM m)
        ORDER BY column_name
      """.trim)),

    // Clustering-quality audit: simplified silhouette against the label
    // centroids (a = distance to own centroid, b = nearest OTHER
    // centroid, s = (b-a)/max(a,b)) — the standard "are these clusters
    // real" check after vec_kmeans_train / vec_centroid_label. The
    // centroid frame is |labels|×|dims| (tiny) and is BROADCAST; each
    // point scores against all centroids map-side via zip_with, so the
    // only shuffle is the centroid build itself. Exact silhouette's
    // all-pairs O(n²) is deliberately avoided — centroid silhouette is
    // the scalable estimator.
    Op("vec_silhouette",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast("array<double>"))
        val cent = emb
          .select(col("label").as("clabel"), posexplode(col("e")).as(Seq("pos", "v")))
          .groupBy("clabel", "pos")
          .agg((sum("v") / count(lit(1))).as("cv"))
          .groupBy("clabel")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
            .as("cvec"))
        emb.crossJoin(broadcast(cent))
          .withColumn("dist2", expr(
            "aggregate(zip_with(e, cvec, (x, c) -> (x - c) * (x - c)), 0d, (acc, x) -> acc + x)"))
          .groupBy("vec_id", "label")
          .agg(min(when(col("clabel") === col("label"), col("dist2"))).as("a2"),
            min(when(col("clabel") =!= col("label"), col("dist2"))).as("b2"))
          .withColumn("sil", (sqrt(col("b2")) - sqrt(col("a2")))
            / greatest(sqrt(col("a2")), sqrt(col("b2"))))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg("sil"), 3).as("mean_sil"))
          .withColumn("mean_sil", col("mean_sil") + 0.0)
          .orderBy("label")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
            unnest(CAST(embedding AS DOUBLE[])) AS v
          FROM embeddings),
        c AS (
          SELECT label AS clabel, pos, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS cv
          FROM e GROUP BY 1, 2),
        d AS (
          SELECT e.vec_id, e.label, c.clabel,
            SUM((e.v - c.cv) * (e.v - c.cv)) AS dist2
          FROM e JOIN c ON e.pos = c.pos
          GROUP BY 1, 2, 3),
        ab AS (
          SELECT vec_id, label,
            MIN(CASE WHEN clabel = label THEN dist2 END) AS a2,
            MIN(CASE WHEN clabel <> label THEN dist2 END) AS b2
          FROM d GROUP BY 1, 2),
        sl AS (
          SELECT label, (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) AS sil
          FROM ab)
        SELECT label, COUNT(*) AS n,
          CAST(ROUND(CAST(CAST(AVG(sil) AS VARCHAR) AS DECIMAL(38,15)), 3) AS DOUBLE)
            + 0.0 AS mean_sil
        FROM sl GROUP BY 1 ORDER BY 1
      """.trim)),

    // Benford first-digit audit: observed first-significant-digit
    // distribution of o_totalprice vs the Benford expectation
    // log10(1 + 1/d) — the classic fabricated-data / corrupted-feed
    // screen. The digit is the first char of the double's SHORTEST
    // DECIMAL REPR — the one string both engines print identically (the
    // same law rule 9's repr-ROUND leans on) — never a re-rounded cast
    // that could carry 999.995 → 1000. One scan + one 9-row aggregate +
    // a broadcast total: costs a partial-agg pass at any scale.
    // Values ≥ 1 only (a leading "0." row would need mantissa shifting;
    // TPC-H prices are ≥ 800, the filter documents totality).
    Op("quality_benford",
      (s, dir) => {
        val d = Tables.t(s, dir, "orders")
          .where(col("o_totalprice") >= 1.0)
          .withColumn("digit",
            substring(col("o_totalprice").cast("string"), 1, 1).cast("int"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = d.agg(sum("n").as("total"))
        d.crossJoin(broadcast(tot))
          .withColumn("obs_frac",
            round(col("n").cast("double") / col("total").cast("double"), 4))
          .withColumn("benford_frac",
            round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 4))
          .withColumn("abs_dev", round(abs(col("obs_frac") - col("benford_frac")), 4))
          .select("digit", "n", "obs_frac", "benford_frac", "abs_dev")
          .orderBy("digit")
      },
      Some("""
        WITH d AS (
          SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit,
            COUNT(*) AS n
          FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d),
        f AS (
          SELECT digit, n,
            CAST(ROUND(CAST(CAST(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
              AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) AS obs_frac,
            CAST(ROUND(CAST(CAST(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
              AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE) AS benford_frac
          FROM d, t)
        SELECT digit, n, obs_frac, benford_frac,
          CAST(ROUND(CAST(CAST(abs(obs_frac - benford_frac) AS VARCHAR)
            AS DECIMAL(38,15)), 4) AS DOUBLE) AS abs_dev
        FROM f ORDER BY digit
      """.trim)),

    // Ingest-freshness audit: per event stream, when did data last
    // arrive and how stale is it against the newest arrival anywhere —
    // the operational monitor every scheduled pipeline gates on before
    // trusting a downstream table. One partial-aggregating scan to a
    // |types|-row frame; the global high-water mark is a window over
    // that frame, never a second scan. All lag math in exact integer
    // µs→hours (no float surface anywhere).
    Op("quality_freshness_report",
      (s, dir) => {
        val per = Tables.events(s, dir)
          .groupBy("event_type")
          .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_total"))
        val wAll = Window.orderBy("event_type")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        per.withColumn("gmax", max(col("last_ts")).over(wAll))
          .selectExpr("event_type", "last_ts", "n_total",
            s"""(${Tables.ntzMicrosSql("gmax")}
               - ${Tables.ntzMicrosSql("last_ts")}) DIV 3600000000 AS hours_stale""",
            s"""${Tables.ntzMicrosSql("gmax")}
               - ${Tables.ntzMicrosSql("last_ts")} >= 86400000000 AS is_stale""")
          .orderBy("event_type")
      },
      Some("""
        WITH per AS (
          SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS last_ts, COUNT(*) AS n_total
          FROM events GROUP BY 1),
        g AS (SELECT per.*, MAX(last_ts) OVER () AS gmax FROM per)
        SELECT event_type, last_ts, n_total,
          (epoch_us(gmax) - epoch_us(last_ts)) // 3600000000 AS hours_stale,
          epoch_us(gmax) - epoch_us(last_ts) >= 86400000000 AS is_stale
        FROM g ORDER BY event_type
      """.trim))
  )
}
