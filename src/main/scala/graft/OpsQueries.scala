package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver-gate queries for the training-data pipeline operators
  * (deduplication, similarity search, text analysis, multimodal) with
  * DuckDB oracles. Real implementations live in graft.ops; these wrappers
  * bind them to the synthetic corpus tables.
  */
object OpsQueries {

  type Q = (SparkSession, String) => DataFrame

  // Both corpora arrive as one parquet split locally — spread them so the
  // per-row compute (tokenize/md5/shingles, dot products) parallelizes;
  // identity at scale (Tables.spread doc). Applied ONLY where it can pay
  // AND cannot perturb the gate:
  //  - only queries whose cross-row reductions are exact (counts, integer
  //    sums, string/struct min, per-row values): a repartition changes
  //    double-sum/avg association order, and a rounding-boundary value
  //    flips the gate hash (seen live: q1_agg's sum_disc_price moved one
  //    cent at sf0.001). Queries reducing doubles across rows (avg quality
  //    scores, k-means centroid averages) keep the raw scan order.
  //  - only queries whose timed action evaluates the heavy compute:
  //    per-row projections (text_*, mm_*) are column-pruned under count(),
  //    so a spread there adds an exchange — of payload bytes, for the
  //    mm_* binary column (guide §2.3) — and parallelizes nothing.
  private def docs(s: SparkSession, dir: String) =
    Tables.spread(s, Tables.documents(s, dir), "doc_id")
  private def docsRaw(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))

  val queries: Map[String, Q] = Map(
    // Calls the LIBRARY operator (minDocs = 1 so the oracle row set is
    // non-vacuous on the dup-free synthetic corpus; the production default
    // minDocs = 2 is the same plan plus the pushed count filter).
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(docs(s, dir), minDocs = 1)
    },

    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashCandidates(docs(s, dir).filter(col("doc_id") < 500))
    },

    "dedup_simhash" -> { (s, dir) => Dedup.simhashGroups(docs(s, dir)) },

    // SimHash near-dup: Hamming <= 3 over a 32-bit fingerprint via
    // pigeonhole block banding (equi-join candidates, exact xor verify).
    "dedup_simhash_near" -> { (s, dir) =>
      Dedup.simhashNearDup(docs(s, dir).filter(col("doc_id") < 500)) },

    "dedup_jaccard" -> { (s, dir) =>
      Dedup.jaccardAllPairs(docsRaw(s, dir).filter(col("doc_id") < 200), 0.8) // spread internal, heavy side only
    },

    // Word 3-gram shingle Jaccard — order-sensitive near-dup signal (token
    // Jaccard is bag-of-words; shingles catch reorderings as different).
    "dedup_jaccard_ngram" -> { (s, dir) =>
      Dedup.jaccardNgram(docsRaw(s, dir).filter(col("doc_id") < 200), n = 3, minJaccard = 0.6) // spread internal
    },

    // End-to-end dedup resolution: LSH candidates → candidate-restricted
    // Jaccard verification → connected-component clusters with min-id
    // keep/drop. The full 10^12-doc composition in one query.
    "dedup_resolve" -> { (s, dir) =>
      Dedup.dedupe(docs(s, dir).filter(col("doc_id") < 500), 0.8)
    },

    // Random-hyperplane LSH bucketing before exact cosine — no unbounded
    // crossJoin in the plan (the synthetic corpus has no 0.95-cosine pairs;
    // 0.35 keeps the verification stage non-vacuous).
    "dedup_embedding" -> { (s, dir) =>
      Similarity.lshNearDup(embs(s, dir), numHyperplanes = 8, bands = 2, minCos = 0.35)
    },

    "sim_cosine_topk" -> { (s, dir) =>
      Similarity.bruteTopK(embs(s, dir), queryId = 0, k = 10)
    },

    "sim_ivf_topk" -> { (s, dir) =>
      Similarity.ivfTopK(embs(s, dir), queryId = 0, k = 10, nprobe = 3)
    },

    // Deterministic Lloyd's k-means (fixed init = first-k vectors, 2 rounds,
    // round-6 centroids): the trained IVF codebook — full assignment gated.
    "sim_kmeans" -> { (s, dir) =>
      Similarity.kmeans(embs(s, dir), k = 5, iters = 2)
    },

    // IVF top-k over the TRAINED k-means quantizer (probe 3 of 5 cells).
    "sim_ivf_kmeans" -> { (s, dir) =>
      Similarity.ivfTopKKmeans(embs(s, dir), queryId = 0, k = 10, nprobe = 3,
        kClusters = 5, iters = 2)
    },

    "text_langid" -> { (s, dir) => TextOps.langId(docsRaw(s, dir)) },
    "text_langid_multi" -> { (s, dir) => TextOps.langIdMulti(docsRaw(s, dir)) },
    "text_quality" -> { (s, dir) => TextOps.quality(docsRaw(s, dir)) },
    "text_tokens" -> { (s, dir) => TextOps.tokenCounts(docsRaw(s, dir)) },
    "text_fingerprint" -> { (s, dir) => TextOps.fingerprint(docsRaw(s, dir)) },

    // Corpus vocabulary heavy hitters: document frequency + total count per
    // token, top-k. Two-level aggregation: the (tok, doc_id) pre-count
    // collapses the token stream map-side BEFORE any exchange (the corpus
    // is occurrence-heavy: ~18M occurrences over a few distinct
    // (tok, doc) pairs at sf0.1), then the per-token rollup counts docs
    // and sums frequencies — replacing count_distinct's Expand (which
    // doubled the exploded rows) with a second cheap agg. doc_freq =
    // count of pre-grouped (tok, doc) rows and term_freq = sum of their
    // counts are definitionally the old count_distinct/count values.
    "text_vocab_topk" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
        .groupBy("tok")
        .agg(count(lit(1)).as("doc_freq"), sum("tf").as("term_freq"))
        .orderBy(desc("doc_freq"), desc("term_freq"), col("tok"))
        .limit(20)
    },

    "mm_byte_meta" -> { (s, dir) =>
      Multimodal.byteMeta(
        docsRaw(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")))
    },

    "mm_decode_stub" -> { (s, dir) =>
      val media = docsRaw(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("frames"))
    },

    // Frame sampling: k evenly spaced frames per payload, one row each with
    // a content signature — the bounded 1->N flatMap of a video pipeline.
    "mm_frame_sample" -> { (s, dir) =>
      val media = docsRaw(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.frameSample(media, k = 3).toDF()
    },

    // Resize stage: aspect-preserving resize arithmetic over the stub
    // decode's dimensions (feature vectors are unit-tested; the gate checks
    // the deterministic geometry).
    "mm_features" -> { (s, dir) =>
      val media = docsRaw(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.features(media).toDF()
        .select("doc_id", "width", "height", "resized_w", "resized_h")
    },

    // As-of (point-in-time) join: every click gets the user's most recent
    // prior-or-simultaneous purchase value. One union + one window pass —
    // never a range-exploded theta join (ops.AsOfJoin).
    "events_asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as("last_purchase_value"))
      AsOfJoin.leftAsOf(clicks, purchases, key = "user_id", ts = "ts",
          tieCol = "event_id", payload = Seq("last_purchase_value"))
        .select("event_id", "user_id", "last_purchase_value")
    },

    // Range join: clicks falling in the 10-minute window after each error,
    // same user — bin-bucketed equi-join, not a theta join (ops.RangeJoin).
    "events_range_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      RangeJoin.pointsInRanges(clicks, errors, key = "user_id",
          ptsCol = "ts", startCol = "w_start", endCol = "w_end",
          binSeconds = 600)
        .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
    },

    // Corpus filter composition: the standard training-data gate — keep
    // docs that pass quality + language thresholds, report survivor stats.
    // ONE pass over the scan (TextOps.qualityLang): the former
    // quality ⋈ langId form scanned the corpus twice — each side re-ran
    // the stopword/token regexes — and joined 1:1 on doc_id; both scores
    // derive from the same per-row counts, exactly as the oracle's single
    // CTE computes them. Identical rows.
    "text_quality_filter" -> { (s, dir) =>
      TextOps.qualityLang(docsRaw(s, dir))
        .filter(col("quality_score") >= 0.5 && col("predicted_lang") === "en")
        .agg(count(lit(1)).as("n_kept"),
          round(avg("quality_score"), 4).as("avg_quality"),
          round(avg("n_tok"), 4).as("avg_tokens"))
    },

    // Sliding-window aggregation (10-min windows every 5 min): each event
    // lands in two windows; same plan shape under readStream.
    "events_sliding_agg" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes")
          .getField("start").as("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    },

    // Exact interpolated quantiles per event type (percentile ~
    // quantile_cont in DuckDB — both linear interpolation).
    "events_quantiles" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
    },

    // Windowed aggregation over the event stream (batch form of the
    // tumbling-window streaming agg; same plan shape under readStream).
    "events_window_agg" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    },

    // Sessionization: 30-min inactivity gap splits sessions per user.
    "events_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_idx", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_idx")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sess_value"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          round(avg("n_events"), 4).as("avg_events_per_session"),
          round(sum("sess_value"), 2).as("total_value"))
    }
  )

  // ---- oracles ----------------------------------------------------------

  private val minhashSigs: String = (0 until Dedup.MinhashK)
    .map(i => s"min(md5('$i|' || tok)) AS h$i").mkString(", ")
  private def bandExprs: Seq[(Int, String)] = {
    val rows = Dedup.MinhashK / Dedup.Bands
    (0 until Dedup.Bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"h$i").mkString(" || '|' || ")
      (b, s"md5($cols)")
    }
  }
  /** k-means oracle CTE builders, mirroring Similarity.kmeansAssign /
    * kmeansCentroids exactly: squared-L2 argmin with (dist, cluster)
    * tie-break; centroid components round(avg, 6) per round. */
  private def kmSqDist(e: String, c: String): String =
    s"round(list_dot_product($e, $e) - 2*list_dot_product($e, $c) + list_dot_product($c, $c), 6)"
  private def kmAssign(cTbl: String, out: String): String =
    s"""$out AS (
        SELECT vec_id, cluster FROM (
          SELECT e.vec_id, c.cluster,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${kmSqDist("e.emb", "c.centroid")}, c.cluster) AS rn
          FROM e CROSS JOIN $cTbl c) WHERE rn = 1)"""
  private def kmUpdate(aTbl: String, out: String): String =
    s"""$out AS (
        SELECT cluster, list(c ORDER BY pos) AS centroid FROM (
          SELECT cluster, pos, round(avg(v), 6) AS c FROM (
            SELECT cluster, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v
            FROM $aTbl JOIN e USING (vec_id)) GROUP BY 1, 2) GROUP BY cluster)"""
  private val kmChain: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster,
                list_transform(emb, x -> round(x, 6)) AS centroid
              FROM (SELECT * FROM e ORDER BY vec_id LIMIT 5)),
       ${kmAssign("c0", "a1")},
       ${kmUpdate("a1", "c1")},
       ${kmAssign("c1", "a2")},
       ${kmUpdate("a2", "c2")},
       ${kmAssign("c2", "af")}"""

  private def simhashSumsN(n: Int): String = (0 until n)
    .map(i => s"sum(CASE WHEN substr(md5(tok), ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$i")
    .mkString(", ")
  private def simhashFpN(n: Int): String = (0 until n)
    .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
  private val simhashSums: String = simhashSumsN(16)
  private val simhashFp: String = simhashFpN(16)
  private val stopRe = "\\b(" + TextOps.EnStopwords.mkString("|") + ")\\b"

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_docs,
         min(doc_id) AS min_doc_id FROM documents GROUP BY 1""",
    "dedup_minhash_lsh" ->
      s"""WITH tok AS (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 500) WHERE tok <> ''),
          sigs AS (SELECT doc_id, $minhashSigs FROM tok GROUP BY doc_id),
          bands AS (${bandExprs.map { case (b, e) =>
            s"SELECT doc_id, $b AS band, $e AS band_hash FROM sigs" }
            .mkString(" UNION ALL ")})
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash
          WHERE a.doc_id < b.doc_id""",
    "dedup_simhash" ->
      s"""WITH tok AS (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents) WHERE tok <> ''),
          sums AS (SELECT doc_id, $simhashSums FROM tok GROUP BY doc_id),
          fp AS (SELECT doc_id, $simhashFp AS simhash FROM sums)
          SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
          FROM fp GROUP BY simhash HAVING count(*) > 1""",
    "dedup_jaccard" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents WHERE doc_id < 200) WHERE tok <> ''),
         sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter) + 1e-9, 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter) + 1e-9, 4) >= 0.8""",
    "dedup_jaccard_ngram" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents WHERE doc_id < 200),
         sh AS (
           SELECT DISTINCT doc_id, sh FROM (
             SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - 2),
                 i -> array_to_string(ts[i:i+2], ' '))) AS sh
             FROM toks WHERE len(ts) >= 3)),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter) + 1e-9, 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter) + 1e-9, 4) >= 0.6""",
    "dedup_simhash_near" ->
      s"""WITH tok AS (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 500) WHERE tok <> ''),
          sums AS (SELECT doc_id, ${simhashSumsN(32)} FROM tok GROUP BY doc_id),
          fp AS (SELECT doc_id, (${simhashFpN(32)})::BIGINT AS simhash FROM sums),
          blocks AS (
            SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) & 255 AS blk_val
            FROM fp, (VALUES (0), (1), (2), (3)) b(blk)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              a.simhash AS sh_a, b.simhash AS sh_b
            FROM blocks a JOIN blocks b
              ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
          FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""",
    "dedup_resolve" ->
      s"""WITH RECURSIVE tok AS (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 500) WHERE tok <> ''),
          sigs AS (SELECT doc_id, $minhashSigs FROM tok GROUP BY doc_id),
          bands AS (${bandExprs.map { case (b, e) =>
            s"SELECT doc_id, $b AS band, $e AS band_hash FROM sigs" }
            .mkString(" UNION ALL ")}),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id),
          sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, count(*) AS inter
            FROM cand
            JOIN tok ta ON ta.doc_id = doc_a
            JOIN tok tb ON tb.doc_id = doc_b AND ta.tok = tb.tok
            GROUP BY doc_a, doc_b),
          verified AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter) + 1e-9, 4) >= 0.8),
          edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
                    UNION ALL SELECT doc_b, doc_a FROM verified),
          lbl(doc_id, comp) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, l.comp FROM lbl l JOIN edges e ON e.a = l.doc_id)
          SELECT doc_id, min(comp) AS cluster_id, doc_id = min(comp) AS keep
          FROM lbl GROUP BY doc_id""",
    "dedup_embedding" ->
      """WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
         anchors AS (SELECT vec_id AS h_id, emb AS hyper FROM e WHERE vec_id < 8),
         bits AS (
           SELECT e.vec_id, a.h_id // 4 AS band, a.h_id,
             CASE WHEN list_dot_product(e.emb, a.hyper) >= 0 THEN '1' ELSE '0' END AS bit
           FROM e CROSS JOIN anchors a),
         sigs AS (
           SELECT vec_id, band, string_agg(bit, '' ORDER BY h_id) AS band_sig
           FROM bits GROUP BY vec_id, band),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM sigs a JOIN sigs b
             ON a.band = b.band AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id)
         SELECT id_a, id_b,
           round(list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 4) AS cos_sim
         FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
         WHERE round(list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 4) >= 0.35""",
    "sim_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], q) /
             (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              sqrt(list_dot_product(q, q))), 4) AS cos_sim
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "sim_ivf_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
         pos AS (
           SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS v
           FROM embeddings),
         cent AS (
           SELECT label, list(c ORDER BY pos) AS centroid FROM (
             SELECT label, pos, avg(v) AS c FROM pos GROUP BY label, pos)
           GROUP BY label),
         probed AS (
           SELECT label FROM cent, q
           ORDER BY round(list_dot_product(centroid, q) /
             (sqrt(list_dot_product(centroid, centroid)) * sqrt(list_dot_product(q, q))), 4) DESC,
             label
           LIMIT 3)
         SELECT vec_id, e.label,
           round(list_dot_product(embedding::DOUBLE[], q) /
             (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              sqrt(list_dot_product(q, q))), 4) AS cos_sim
         FROM embeddings e JOIN probed ON e.label = probed.label, q
         WHERE vec_id <> 0
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "sim_kmeans" ->
      s"""WITH $kmChain
         SELECT vec_id, cluster FROM af""",
    "sim_ivf_kmeans" ->
      s"""WITH $kmChain,
         q AS (SELECT emb AS q FROM e WHERE vec_id = 0),
         probed AS (
           SELECT cluster FROM c2, q
           ORDER BY ${kmSqDist("centroid", "q")}, cluster LIMIT 3)
         SELECT vec_id, af.cluster,
           round(list_dot_product(emb, q) /
             (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(q, q))), 4) AS cos_sim
         FROM e JOIN af USING (vec_id) JOIN probed ON af.cluster = probed.cluster, q
         WHERE vec_id <> 0
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "text_langid" ->
      s"""SELECT doc_id, lang AS declared_lang,
          CASE WHEN round(len(regexp_extract_all(text, '$stopRe')) * 1.0 /
            len(list_filter(string_split(text, ' '), t -> t <> '')) + 1e-9, 4) >= 0.05
            THEN 'en' ELSE 'und' END AS predicted_lang,
          round(len(regexp_extract_all(text, '$stopRe')) * 1.0 /
            len(list_filter(string_split(text, ' '), t -> t <> '')) + 1e-9, 4) AS stop_ratio
          FROM documents""",
    "text_langid_multi" -> {
      val ratios = TextOps.LangProfiles.map { case (lg, words) =>
        s"round(len(regexp_extract_all(text, '\\b(${words.mkString("|")})\\b')) * 1.0 / n_tok + 1e-9, 4) AS r_$lg"
      }.mkString(", ")
      val langs = TextOps.LangProfiles.map(_._1)
      val cases = langs.map { lg =>
        val conds = (s"r_$lg >= 0.05" +: langs.filterNot(_ == lg).map(o => s"r_$lg >= r_$o"))
          .mkString(" AND ")
        s"WHEN $conds THEN '$lg'"
      }.mkString(" ")
      s"""WITH base AS (
            SELECT doc_id, lang AS declared_lang, text,
              len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
            FROM documents),
          r AS (SELECT doc_id, declared_lang, $ratios FROM base)
          SELECT doc_id, declared_lang,
            CASE $cases ELSE 'und' END AS predicted_lang,
            ${langs.map(lg => s"r_$lg").mkString(", ")}
          FROM r"""
    },
    "text_quality" ->
      s"""WITH m AS (
           SELECT doc_id, length(text) AS n_chars,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
             len(regexp_extract_all(text, '$stopRe')) AS n_stop,
             len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha
           FROM documents)
         SELECT doc_id, n_chars, n_tok,
           round((n_chars - n_tok + 1) * 1.0 / n_tok + 1e-9, 4) AS mean_tok_len,
           round(n_stop * 1.0 / n_tok + 1e-9, 4) AS stop_ratio,
           round(n_alpha * 1.0 / n_chars + 1e-9, 4) AS alpha_ratio,
           round(least(n_tok / 64.0, 1.0) * 0.4 +
             round(n_alpha * 1.0 / n_chars + 1e-9, 4) * 0.4 +
             least(round(n_stop * 1.0 / n_tok + 1e-9, 4) * 5.0, 1.0) * 0.2 + 1e-9, 4) AS quality_score
         FROM m""",
    "text_tokens" ->
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9 ]')) AS bpeish_tokens,
         len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS distinct_tokens
         FROM documents""",
    "text_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
         greatest(len(list_filter(string_split(text, ' '), t -> t <> '')) - 2, 0) AS n_shingles
         FROM documents""",
    "text_vocab_topk" ->
      """SELECT tok, count(DISTINCT doc_id) AS doc_freq,
         count(*)::BIGINT AS term_freq
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         WHERE tok <> ''
         GROUP BY tok
         ORDER BY doc_freq DESC, term_freq DESC, tok LIMIT 20""",
    "mm_byte_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         sha256(text) AS payload_sha, ascii(text[1]) AS first_byte
         FROM documents""",
    "mm_decode_stub" ->
      """SELECT doc_id,
         16 + ascii(text[1]) % 128 AS width,
         16 + ascii(text[2]) % 128 AS height,
         1 + octet_length(encode(text)) // 4096 AS frames
         FROM documents""",
    "events_range_join" ->
      """SELECT e.event_id AS err_id, count(*) AS n_clicks
         FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
         JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id
          AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 10 MINUTE
         GROUP BY 1""",
    "events_asof_join" ->
      """WITH purchases AS (
           SELECT user_id, ts, value AS last_purchase_value FROM (
             SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
             FROM events WHERE event_type = 'purchase') WHERE rn = 1),
         clicks AS (
           SELECT event_id, ts, user_id FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id, p.last_purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.ts <= c.ts""",
    "text_quality_filter" ->
      s"""WITH m AS (
           SELECT doc_id, length(text) AS n_chars,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
             len(regexp_extract_all(text, '$stopRe')) AS n_stop,
             len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha
           FROM documents),
         scored AS (
           SELECT doc_id, n_tok,
             round(least(n_tok / 64.0, 1.0) * 0.4 +
               round(n_alpha * 1.0 / n_chars + 1e-9, 4) * 0.4 +
               least(round(n_stop * 1.0 / n_tok + 1e-9, 4) * 5.0, 1.0) * 0.2 + 1e-9, 4) AS quality_score,
             CASE WHEN round(n_stop * 1.0 / n_tok + 1e-9, 4) >= 0.05
               THEN 'en' ELSE 'und' END AS predicted_lang
           FROM m)
         SELECT count(*) AS n_kept,
           round(avg(quality_score), 4) AS avg_quality,
           round(avg(n_tok), 4) AS avg_tokens
         FROM scored WHERE quality_score >= 0.5 AND predicted_lang = 'en'""",
    "events_sliding_agg" ->
      """SELECT w_start, event_type, count(*) AS n,
         round(sum(value), 2) AS sum_value
         FROM (SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS w_start,
               event_type, value FROM events)
         GROUP BY 1, 2""",
    "events_quantiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90,
         round(quantile_cont(value, 0.99), 4) AS p99
         FROM events GROUP BY event_type""",
    "mm_frame_sample" ->
      """WITH m AS (
           SELECT doc_id, text,
             1 + octet_length(encode(text)) // 4096 AS frames
           FROM documents),
         s AS (SELECT doc_id, text, frames, least(3, frames) AS n FROM m),
         idx AS (
           SELECT doc_id, text, frames, n,
             unnest(generate_series(0, n - 1)) AS i
           FROM s)
         SELECT doc_id,
           (CASE WHEN n = 1 THEN 0 ELSE i * (frames - 1) // (n - 1) END)::INT AS frame_idx,
           md5(substr(text,
             (CASE WHEN n = 1 THEN 0 ELSE i * (frames - 1) // (n - 1) END) * 4096 + 1,
             4096)) AS frame_sig
         FROM idx""",
    "mm_features" ->
      """WITH d AS (
           SELECT doc_id,
             16 + ascii(text[1]) % 128 AS width,
             16 + ascii(text[2]) % 128 AS height
           FROM documents),
         s AS (SELECT *, least(1.0, 100.0 / greatest(width, height)) AS scale FROM d)
         SELECT doc_id, width, height,
           greatest(1, floor(width * scale + 0.5))::INT AS resized_w,
           greatest(1, floor(height * scale + 0.5))::INT AS resized_h
         FROM s""",
    "events_window_agg" ->
      """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS w_start, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "events_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         marked AS (
           SELECT *, CASE WHEN prev_ts IS NULL
             OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
           FROM g),
         sess AS (
           SELECT *, sum(new_sess) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
           FROM marked),
         per AS (
           SELECT user_id, sess_idx, count(*) AS n_events,
             round(sum(value), 2) AS sess_value
           FROM sess GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_events_per_session,
           round(sum(sess_value), 2) AS total_value
         FROM per GROUP BY user_id"""
  )
}
