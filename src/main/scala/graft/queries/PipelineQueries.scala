package graft.queries

import graft.functions.HeavyHitters
import graft.operators.{Curation, Dedup, Expectations, Graph, Multimodal, Pca, Profiling, Similarity, TextAnalysis}
import graft.sources.{Csv, Jsonl, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` / `embeddings`
  * (north-star; BASELINE.json north_star): dedup (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding near-dup), similarity search
  * (brute-force + LSH-bucketed ANN), text analysis (quality, lang-ID,
  * token counts, fingerprints), and multimodal binary-column plumbing.
  *
  * Oracle parity trick: every hash is md5 over identical strings, so the
  * DuckDB oracle reproduces signatures/buckets bit-for-bit; floating
  * similarity uses `list_reduce` left-folds matching Spark's `aggregate`
  * fold order, with ranking on values rounded to 1e-6.
  */
object PipelineQueries {

  final val Stopwords = Seq("the", "a", "data", "key", "value")
  final val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast"),
    "de" -> Seq("group", "hash"),
    "es" -> Seq("data", "table"),
    "fr" -> Seq("merge", "sort"),
    "zh" -> Seq("big", "small"))
  final val JaccardThreshold = 0.5
  final val ContainmentThreshold = 0.6
  final val MinhashK = 8
  final val ShingleLen = 3
  /** LSH band count for the whole minhash chain (collision
    * p = s^(MinhashK/bands) per band). THE documented production
    * lever for output-sensitive candidate growth on densifying
    * corpora (SURVEY r12 third wave; bench/sf1_probe.json notes on
    * dedup_edit_distance / decontaminate_fuzzy): fewer bands = more
    * rows per band = superlinearly fewer spurious band collisions.
    * Env `SPARK_GRAFT_LSH_BANDS` (must divide MinhashK), default 4 —
    * the declared-query contract is the default; the oracle SQL
    * ([[BandCte]]) interpolates the SAME value, so a densified
    * setting stays oracle-exact end to end. */
  final val LshBands: Int =
    sys.env.get("SPARK_GRAFT_LSH_BANDS").flatMap(_.toIntOption)
      .filter(b => b >= 1 && b <= MinhashK && MinhashK % b == 0)
      .getOrElse(4)
  private val LshRowsPerBand: Int = MinhashK / LshBands

  /** The deterministic garbage planted beside the JSONL export by
    * `source_jsonl_quarantine` — every line is SYNTAX-invalid JSON
    * (truncated object, plain text, bare fragments), so its
    * quarantine verdict is unambiguous in any parser. Shared with the
    * oracle (which counts them) so the two cannot drift. */
  final val CorruptJsonlLines: Seq[String] = Seq(
    """{"doc_id": 9000001, "text": "truncated record""",
    "plain text line that is not json",
    "[1, 2, 3",
    """{"doc_id": }""",
    "{{")

  /** Planted CSV damage for source_csv_quarantine: id type damage,
    * numeric-field type damage, and an extra trailing field. */
  final val CorruptCsvLines: Seq[String] = Seq(
    "notanumber,some text,en,src9,12",
    "9000002,other text,en,src9,notanumber",
    "9000003,extra text,en,src9,12,surplus-field")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** The incremental-IVF entries' FIXED codebook: the four smallest
    * vec_ids' embeddings as deterministic anchors (list id = vec_id) —
    * the stand-in for a persisted trained codebook, chosen so the
    * DuckDB oracle can name the identical vectors. */
  private def fixedAnchors(e: DataFrame): Seq[(Int, Array[Double])] =
    e.filter(col("vec_id") < 4)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .toSeq.sortBy(_._1)

  /** Shared DuckDB oracle of dedup_inc_marks_within AND
    * dedup_inc_pruned_marks — ONE definition, so the in-memory and
    * persisted-pruned paths can never drift: store = docs with split
    * bucket < 80, batch = >= 80, is_dup iff >= 4/8 signature
    * components match a store doc or an earlier batch sibling. */
  /** `storeMax` = the split-bucket upper bound of the STORE side —
    * 80 for the full store, lower after a retention pass expired the
    * [storeMax, 80) slice (the r16 expiry entry computes its oracle
    * over the POST-delete corpus this way). */
  private def incMarksWithinSql(storeMax: Int): String =
    s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents),
        ca AS (SELECT DISTINCT a.id AS new_id, b.id AS old_id
          FROM band a JOIN band b
            ON a.band = b.band AND a.band_hash = b.band_hash
          JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
          WHERE x.b >= 80 AND y.b < $storeMax),
        mt AS (SELECT ca.new_id,
          sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
            END)::BIGINT AS matches
          FROM ca JOIN sig sa ON sa.id = ca.new_id
          JOIN sig sb ON sb.id = ca.old_id AND sb.seed = sa.seed
          GROUP BY ca.new_id, ca.old_id),
        cw AS (SELECT DISTINCT b.id AS new_id, a.id AS old_id
          FROM band a JOIN band b
            ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.id < b.id
          JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
          WHERE x.b >= 80 AND y.b >= 80),
        mw AS (SELECT cw.new_id,
          sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
            END)::BIGINT AS matches
          FROM cw JOIN sig sa ON sa.id = cw.new_id
          JOIN sig sb ON sb.id = cw.old_id AND sb.seed = sa.seed
          GROUP BY cw.new_id, cw.old_id)
        SELECT DISTINCT sig.id,
          (sig.id IN (SELECT new_id FROM mt WHERE matches >= 4)
            OR sig.id IN (SELECT new_id FROM mw WHERE matches >= 4))
            AS is_dup
        FROM sig JOIN sp ON sig.id = sp.doc_id
        WHERE sp.b >= 80""".replaceAll("\\s+", " ")

  private lazy val IncMarksWithinSql: String = incMarksWithinSql(80)

  /** Shared DuckDB oracle of ann_ivf_inc_topk AND
    * ann_ivf_inc_pruned_topk — one definition, so the in-memory and
    * persisted-pruned IVF probe paths can never drift. */
  /** `corpusPred` restricts the CORPUS (neighbor) side — "TRUE" for
    * the full table; the r16 expiry entry passes the live-id
    * predicate so the oracle ranks only surviving neighbors. */
  private def ivfIncTopKSql(corpusPred: String,
      nProbe: Int = 1): String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        a AS (SELECT vec_id AS list, v AS av FROM v WHERE vec_id < 4),
        nz AS (SELECT vec_id, v FROM v
          WHERE list_reduce(list_transform(v, x -> x*x),
            (x,y) -> x+y) > 0),
        s0 AS (SELECT nz.vec_id, a.list,
          round(list_reduce(list_transform(generate_series(1,64),
            i -> nz.v[i]*a.av[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(nz.v, x -> x*x),
                (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(a.av, x -> x*x),
                (x,y) -> x+y))), 6) AS cos_r
          FROM nz, a),
        asg AS (SELECT vec_id, list FROM (SELECT vec_id, list,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cos_r DESC, list) AS rk FROM s0) WHERE rk = 1),
        qasg AS (SELECT vec_id, list FROM (SELECT vec_id, list,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cos_r DESC, list) AS rk FROM s0)
          WHERE rk <= $nProbe),
        qs AS (SELECT nz.vec_id AS qid, nz.v AS qv, qasg.list
          FROM nz JOIN qasg ON nz.vec_id = qasg.vec_id
          WHERE nz.vec_id < 16),
        cs AS (SELECT nz.vec_id AS nid, nz.v AS cv, asg.list
          FROM nz JOIN asg ON nz.vec_id = asg.vec_id
          WHERE $corpusPred),
        sc0 AS (SELECT qs.qid AS query_id, cs.nid AS neighbor_id,
          list_reduce(list_transform(generate_series(1,64),
            i -> qs.qv[i]*cs.cv[i]), (x,y) -> x+y) AS dot,
          (sqrt(list_reduce(list_transform(qs.qv, x -> x*x),
            (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(cs.cv, x -> x*x),
            (x,y) -> x+y))) AS nn
          FROM qs JOIN cs ON qs.list = cs.list
          WHERE cs.nid != qs.qid),
        sc AS (SELECT query_id, neighbor_id,
          CASE WHEN nn > 0 THEN dot / nn END AS cos FROM sc0)
        SELECT query_id, rank, neighbor_id, cosine_r FROM (
          SELECT query_id, neighbor_id, round(cos,6) AS cosine_r,
          row_number() OVER (PARTITION BY query_id
            ORDER BY round(cos,6) DESC, neighbor_id) AS rank FROM sc
          WHERE cos IS NOT NULL)
        WHERE rank <= 5""".replaceAll("\\s+", " ")

  private lazy val IvfIncTopKSql: String = ivfIncTopKSql("TRUE")


  /** THE basis-point split hash (md5-prefix of the id, mod 100) shared
    * by every split-based query (pipeline_split, decontaminate_*,
    * dedup_incremental_*) — one definition, so the train/test split
    * convention cannot silently decorrelate across queries. */
  private def splitBucket(c: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(100))

  // Exact top-5 cosine ranking on the embeddings table — the SHARED
  // oracle of ann_bruteforce_topk and the degenerate-exact
  // ann_pca_topk (one definition, so the two cannot drift). Mirrors
  // the engine's safeCosine exactly: cosine guarded to NULL when the
  // norm product is not > 0 (a zero-norm vector would otherwise be
  // NaN here — DuckDB ranks NaN GREATEST, silently diverging from the
  // engine's null-exclusion), and NULL cosines are excluded BEFORE
  // ranking, like topKPerQuery's null/NaN filter.
  private val AnnExactOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 16),
      s0 AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        list_reduce(list_transform(generate_series(1,64),
          i -> q.qv[i]*c.v[i]), (x,y) -> x+y) AS dot,
        (sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x,y) -> x+y)) *
         sqrt(list_reduce(list_transform(c.v, x -> x*x), (x,y) -> x+y)))
        AS nn
      FROM q, v c WHERE c.vec_id != q.qid),
      s AS (SELECT query_id, neighbor_id,
        CASE WHEN nn > 0 THEN dot / nn END AS cos FROM s0)
      SELECT query_id, rank, neighbor_id, cosine_r FROM (
        SELECT query_id, neighbor_id, round(cos,6) AS cosine_r,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(cos,6) DESC, neighbor_id) AS rank FROM s
        WHERE cos IS NOT NULL)
      WHERE rank <= 5""".replaceAll("\\s+", " ")

  // ann_ivf_recluster_topk oracle: both post-re-cluster serves run at
  // the degenerate-exact corner (nProbe = the re-trained nlist, so
  // every list is probed; k·refine ≥ |corpus|), so whatever codebook
  // the re-train produced, each face must reproduce the brute-force
  // ranking — AnnExactOracle tagged per served face.
  private lazy val ReclusterOracle: String =
    s"""WITH base AS ($AnnExactOracle)
        SELECT 'assign' AS face, query_id, rank, neighbor_id,
          cosine_r FROM base
        UNION ALL
        SELECT 'codes' AS face, query_id, rank, neighbor_id,
          cosine_r FROM base""".replaceAll("\\s+", " ")

  // index_stats oracle: recompute every deterministic stat of the
  // entry's grown index from the embeddings table — the epoch
  // segment holds all non-zero-norm vectors (batch 0, folded at
  // wm=0), the hot tail is the vec_id<100 re-ingest (batch 1), and
  // the skew reconstructs the fixed-anchor assignment (the shared
  // ivfIncTopKSql CTE shape) over epoch+hot, max list / (total /
  // nlist=4), rounded like the engine's single-division contract.
  private lazy val IndexStatsSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        a AS (SELECT vec_id AS list, v AS av FROM v WHERE vec_id < 4),
        nz AS (SELECT vec_id, v FROM v
          WHERE list_reduce(list_transform(v, x -> x*x),
            (x,y) -> x+y) > 0),
        s0 AS (SELECT nz.vec_id, a.list,
          round(list_reduce(list_transform(generate_series(1,64),
            i -> nz.v[i]*a.av[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(nz.v, x -> x*x),
                (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(a.av, x -> x*x),
                (x,y) -> x+y))), 6) AS cos_r
          FROM nz, a),
        asg AS (SELECT vec_id, list FROM (SELECT vec_id, list,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cos_r DESC, list) AS rk FROM s0) WHERE rk = 1),
        tot AS (SELECT list, count(*) AS c FROM (
            SELECT list FROM asg
            UNION ALL
            SELECT list FROM asg WHERE vec_id < 100)
          GROUP BY list)
        SELECT 'assign' AS tier, 0::BIGINT AS wm, 1::BIGINT AS segments,
          (SELECT count(*) FROM nz) AS seg_rows,
          1::BIGINT AS hot_batches,
          (SELECT count(*) FROM nz WHERE vec_id < 100) AS hot_rows,
          0::BIGINT AS inflight,
          'centroids.parquet' AS codebook,
          (SELECT round(max(c) / (sum(c) / 4.0), 6) FROM tot)
            AS list_skew""".replaceAll("\\s+", " ")

  // ann_lsh_topk registry config — interpolated into BOTH the engine
  // call and the oracle SQL, so the two cannot drift
  final val LshTables = 2
  final val LshPlanes = 8
  final val AnnDim = 64

  // SRP-LSH top-5 oracle: reconstructs the engine's buckets EXACTLY —
  // the ±1 hyperplanes are md5-derived (component i of plane p, table t
  // is +1 iff the first md5 nibble of "t:p:i" < 8, Similarity
  // .hyperplane) precisely so SQL can rebuild them, and the bucket dot
  // is an ascending-index fold in both engines (SrpPack's while loop ≡
  // list_reduce over list_transform), so the float sums are
  // bit-identical: ±1·x is exact and both sides add in the same order
  // with no fusable multiply-add chain. Bits assemble by integer sum
  // (order-free). Candidates then re-rank by exact cosine with the
  // same guard/tiebreak as AnnExactOracle.
  private val AnnLshOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings),
      pl AS (SELECT t, p, list(sgn ORDER BY i) AS pv FROM (
        SELECT t.t AS t, p.p AS p, i.i AS i,
          CASE WHEN ('0x' || substr(md5(t.t::VARCHAR || ':' ||
            p.p::VARCHAR || ':' || i.i::VARCHAR), 1, 1))::INT < 8
          THEN 1.0 ELSE -1.0 END AS sgn
        FROM (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t) t,
             (SELECT unnest(generate_series(0, ${LshPlanes - 1})) AS p) p,
             (SELECT unnest(generate_series(0, ${AnnDim - 1})) AS i) i)
        GROUP BY t, p),
      bkt AS (SELECT v.vec_id, pl.t,
          sum(CASE WHEN list_reduce(list_transform(
            generate_series(1, $AnnDim), j -> v.v[j] * pl.pv[j]),
            (x, y) -> x + y) >= 0
          THEN 1 << pl.p ELSE 0 END)::BIGINT AS bucket
        FROM v, pl GROUP BY 1, 2),
      cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        FROM bkt q JOIN bkt c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 16 AND c.vec_id != q.vec_id),
      s0 AS (SELECT cand.qid AS query_id, cand.cid AS neighbor_id,
          list_reduce(list_transform(generate_series(1, $AnnDim),
            i -> qv.v[i]*cv.v[i]), (x,y) -> x+y) AS dot,
          (sqrt(list_reduce(list_transform(qv.v, x -> x*x),
            (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(cv.v, x -> x*x),
            (x,y) -> x+y))) AS nn
        FROM cand JOIN v qv ON qv.vec_id = cand.qid
                  JOIN v cv ON cv.vec_id = cand.cid),
      s AS (SELECT query_id, neighbor_id,
        CASE WHEN nn > 0 THEN dot / nn END AS cos FROM s0)
      SELECT query_id, rank, neighbor_id, cosine_r FROM (
        SELECT query_id, neighbor_id, round(cos,6) AS cosine_r,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(cos,6) DESC, neighbor_id) AS rank FROM s
        WHERE cos IS NOT NULL)
      WHERE rank <= 5""".replaceAll("\\s+", " ")

  // shared oracle CTE fragments (DuckDB)
  private val WordsCte =
    "words AS (SELECT doc_id, string_split(text,' ') AS w FROM documents)"
  private val ShingleCte = // 3-word shingles, one row per (doc, pos)
    s"""shingle AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, len(w)-${ShingleLen - 1}),
        i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s FROM words)"""
  // MinHash signature rows (doc_id, seed, minhash): one md5 per shingle
  // (60-bit prefix), then the (A·h + B) mod p universal family — the
  // constants are interpolated from Dedup itself, so engine and oracle
  // cannot drift (products < 2^62, no BIGINT overflow divergence)
  private val P = Dedup.MinhashP
  private val SigCte =
    s"""hsh AS (SELECT doc_id,
          (('0x'||substr(md5(s),1,15))::BIGINT % $P) AS h FROM shingle),
        sig AS (SELECT hsh.doc_id AS id, seeds.seed AS seed,
        min(((((seeds.seed+1)*${Dedup.MinhashMul}) % $P) * h
          + ((seeds.seed*${Dedup.MinhashAddMul} + ${Dedup.MinhashAddOff})
            % $P)) % $P) AS minhash
        FROM hsh, (SELECT unnest(generate_series(0,${MinhashK - 1})) AS seed) seeds
        GROUP BY 1, 2)"""
  // LSH band hashes + candidate pairs — shared by lsh_pairs / jaccard /
  // clusters so the band-hash definition lives in ONE place
  private val BandCte =
    s"""band AS (SELECT id, seed//$LshRowsPerBand AS band,
        md5(string_agg(seed::VARCHAR||'|'||minhash::VARCHAR, ','
          ORDER BY seed::VARCHAR||'|'||minhash::VARCHAR)) AS band_hash
        FROM sig GROUP BY id, seed//$LshRowsPerBand)"""
  private val CandCte =
    """cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM band a
        JOIN band b ON a.band=b.band AND a.band_hash=b.band_hash
          AND a.id < b.id)"""
  // symmetrized near-dup edge list — the graph the graph_* family runs on
  private val EdgeCte =
    """e AS (SELECT id_a AS src, id_b AS dst FROM cand
        UNION ALL SELECT id_b AS src, id_a AS dst FROM cand)"""

  /** The graph_* queries' edge frame: LSH candidate pairs symmetrized
    * into directed (src, dst) rows — the engine twin of [[EdgeCte]]. */
  private def lshEdges(s: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignatures(docs(s, dir), "doc_id", "text",
      MinhashK, ShingleLen)
    val pairs =
      Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
  }

  /** DuckDB replay of [[Graph.pageRankInt]] (scale 10⁶, damping
    * 85/100): the same integer supersteps unrolled as chained CTEs —
    * generated from the iteration count so engine and oracle cannot
    * drift on the recurrence. */
  private def pageRankOracle(iters: Int): String = {
    val base = 1000000L * 15L / 100L
    val sb = new StringBuilder
    sb ++= s"WITH $WordsCte, $ShingleCte, $SigCte, $BandCte, "
    sb ++= s"$CandCte, $EdgeCte, "
    sb ++= "deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1), "
    sb ++= "nd AS (SELECT doc_id AS id FROM documents), "
    sb ++= "r0 AS (SELECT id, 1000000::BIGINT AS r FROM nd)"
    for (i <- 1 to iters) {
      sb ++= s", c$i AS (SELECT e.dst, sum(r${i - 1}.r // d.deg)::BIGINT AS c" +
        s" FROM e JOIN deg d ON e.src = d.src" +
        s" JOIN r${i - 1} ON r${i - 1}.id = e.src GROUP BY 1)"
      sb ++= s", r$i AS (SELECT nd.id, ($base + (85 * coalesce(c$i.c, 0))" +
        s" // 100)::BIGINT AS r FROM nd LEFT JOIN c$i ON nd.id = c$i.dst)"
    }
    sb ++= s" SELECT id AS doc_id, r AS rank_u FROM r$iters"
    sb.toString.replaceAll("\\s+", " ")
  }

  /** DuckDB replay of [[Graph.connectedComponents]]: the same
    * min-label rounds unrolled as chained CTEs, generated from the
    * round count so engine and oracle cannot drift. */
  private def componentsOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $WordsCte, $ShingleCte, $SigCte, $BandCte, "
    sb ++= s"$CandCte, $EdgeCte, "
    sb ++= "nd AS (SELECT doc_id AS id FROM documents), "
    sb ++= "l0 AS (SELECT id, id AS component FROM nd)"
    for (i <- 1 to rounds) {
      sb ++= s", l$i AS (SELECT id, min(component)::BIGINT AS component" +
        s" FROM (SELECT id, component FROM l${i - 1} UNION ALL" +
        s" SELECT e.dst AS id, l${i - 1}.component FROM e" +
        s" JOIN l${i - 1} ON l${i - 1}.id = e.src) GROUP BY id)"
    }
    sb ++= s" SELECT id AS doc_id, component FROM l$rounds"
    sb.toString.replaceAll("\\s+", " ")
  }

  /** DuckDB replay of [[Graph.labelPropagation]]: per round a
    * neighbor-vote count, a per-node max, and the max-count/min-label
    * winner — the identical deterministic tie-break as the engine's
    * struct-max argmax. */
  private def labelPropOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $WordsCte, $ShingleCte, $SigCte, $BandCte, "
    sb ++= s"$CandCte, $EdgeCte, "
    sb ++= "nd AS (SELECT doc_id AS id FROM documents), "
    sb ++= "l0 AS (SELECT id, id AS community FROM nd)"
    for (i <- 1 to rounds) {
      sb ++= s", v$i AS (SELECT e.dst AS id, l${i - 1}.community," +
        s" count(*)::BIGINT AS cnt FROM e" +
        s" JOIN l${i - 1} ON l${i - 1}.id = e.src GROUP BY 1, 2)"
      sb ++= s", m$i AS (SELECT id, max(cnt) AS mc FROM v$i GROUP BY 1)"
      sb ++= s", w$i AS (SELECT v.id, min(v.community)::BIGINT AS vote" +
        s" FROM v$i v JOIN m$i m ON v.id = m.id AND v.cnt = m.mc" +
        s" GROUP BY 1)"
      sb ++= s", l$i AS (SELECT l.id," +
        s" coalesce(w.vote, l.community)::BIGINT AS community" +
        s" FROM l${i - 1} l LEFT JOIN w$i w ON l.id = w.id)"
    }
    sb ++= s" SELECT id AS doc_id, community FROM l$rounds"
    sb.toString.replaceAll("\\s+", " ")
  }
  /** The full cluster-label derivation (minhash → LSH bands →
    * candidates → jaccard filter → transitive closure), through a
    * `reach(id, label)` relation — ONE definition shared by
    * `dedup_clusters` and `dedup_keep_best` so the clustering oracle
    * cannot drift between them. Use inside `WITH RECURSIVE`. */
  private val ClusterReachCtes =
    s"""$WordsCte, $ShingleCte, $SigCte, $BandCte, $CandCte,
      dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
      sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
      pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c JOIN dsh a ON a.doc_id=c.id_a
        JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2),
      jp AS (SELECT pr.id_a, pr.id_b FROM pr
        JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
        WHERE n_shared/(x.n_sh + y.n_sh - n_shared)
          >= $JaccardThreshold),
      ed AS (SELECT id_a AS src, id_b AS dst FROM jp
        UNION ALL SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS label FROM documents
        UNION
        SELECT ed.dst AS id, reach.label FROM reach
        JOIN ed ON ed.src = reach.id)"""

  def defs: Map[String, QueryDef] = Q.m(

    // exact dedup by content hash.
    "dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text"),
      Some("""SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
        count(*)::BIGINT AS n_copies FROM documents GROUP BY text"""
        .replaceAll("\\s+", " "))),

    // MinHash signatures (k=8 seeds, word 3-gram shingles; universal
    // (A·h+B) mod p family over one md5 per shingle).
    "dedup_minhash_sig" -> QueryDef(
      (s, dir) => Dedup
        .minhash(docs(s, dir), "doc_id", "text", MinhashK, ShingleLen)
        .select(col("id"), col("seed").cast("long").as("seed"),
          col("minhash")),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte
        SELECT id, seed::BIGINT AS seed, minhash FROM sig"""
        .replaceAll("\\s+", " "))),

    // LSH candidate pairs (4 bands × 2 rows). Signatures and band
    // hashes are pure projections (codegen'd single-pass expression) —
    // the bucket join is the only shuffle in the chain.
    "dedup_lsh_pairs" -> QueryDef(
      (s, dir) => {
        val sig = Dedup.minhashSignatures(docs(s, dir), "doc_id", "text",
          MinhashK, ShingleLen)
        Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte, $CandCte
        SELECT id_a, id_b FROM cand""".replaceAll("\\s+", " "))),

    // edit-distance confirm pass over LSH candidates — the
    // character-level near-dup check (catches single-typo duplicates
    // whose word shingles diverge). Levenshtein runs ONLY on candidate
    // pairs (never all-pairs) and BANDED at the confirm threshold:
    // Spark's 3-arg levenshtein computes an O(len·K) diagonal band
    // instead of the full O(len²) DP and returns −1 past K (measured
    // ~4× on this query's warm time) — a pair farther than K isn't a
    // near-dup, so the full distance is wasted work. The oracle
    // filters its exact distances to the same ≤ K set.
    "dedup_edit_distance" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        cand
          .join(d.select(col("doc_id").as("id_a"),
            col("text").as("t_a")), "id_a")
          .join(d.select(col("doc_id").as("id_b"),
            col("text").as("t_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("t_a"), col("t_b"), 100).cast("long")
              .as("dist"))
          .filter(col("dist") >= 0)
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte, $CandCte
        SELECT id_a, id_b, dist FROM (
          SELECT id_a, id_b, levenshtein(a.text, b.text)::BIGINT AS dist
          FROM cand JOIN documents a ON cand.id_a = a.doc_id
          JOIN documents b ON cand.id_b = b.doc_id)
        WHERE dist <= 100""".replaceAll("\\s+", " "))),

    // Graph analytics over the near-dup similarity graph (nodes =
    // docs, edges = symmetrized LSH candidate pairs): degree profile
    // (hub/template detection) and deterministic integer PageRank
    // (centrality-ranked canonical selection). PageRank is EXACT Long
    // fixed-point arithmetic, so the oracle replays the identical
    // three unrolled supersteps in SQL and every rank hash-matches.
    "graph_degrees" -> QueryDef(
      (s, dir) => Graph.degrees(
        docs(s, dir).select(col("doc_id").as("id")),
        lshEdges(s, dir))
        .select(col("id").as("doc_id"), col("degree")),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        $CandCte, $EdgeCte
        SELECT nd.id AS doc_id, coalesce(dg.degree, 0)::BIGINT AS degree
        FROM (SELECT doc_id AS id FROM documents) nd
        LEFT JOIN (SELECT src, count(*)::BIGINT AS degree FROM e
          GROUP BY 1) dg ON nd.id = dg.src"""
        .replaceAll("\\s+", " "))),

    // bounded 2-core peeling over the near-dup graph: three unrolled
    // drop-degree-<2 supersteps (the pageRankInt fixed-iteration
    // discipline) — separates the template flood's tightly-linked
    // core from stragglers; each dropped node reports its peel round.
    // Exact integers throughout, oracle replays the identical
    // unrolled rounds.
    "graph_kcore" -> QueryDef(
      (s, dir) => Graph.kCorePeel(
        docs(s, dir).select(col("doc_id").as("id")),
        lshEdges(s, dir), k = 2, rounds = 3)
        .select(col("id").as("doc_id"), col("in_core"),
          col("dropped_round")),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        $CandCte, $EdgeCte,
        nd AS (SELECT doc_id AS id FROM documents),
        d1 AS (SELECT nd.id, coalesce(c.d, 0) AS d FROM nd
          LEFT JOIN (SELECT src AS id, count(*) AS d FROM e
            GROUP BY 1) c USING (id)),
        a1 AS (SELECT id FROM d1 WHERE d >= 2),
        x1 AS (SELECT id, 1 AS dr FROM d1 WHERE d < 2),
        e2 AS (SELECT e.src, e.dst FROM e
          JOIN a1 s ON e.src = s.id JOIN a1 t ON e.dst = t.id),
        d2 AS (SELECT a1.id, coalesce(c.d, 0) AS d FROM a1
          LEFT JOIN (SELECT src AS id, count(*) AS d FROM e2
            GROUP BY 1) c USING (id)),
        a2 AS (SELECT id FROM d2 WHERE d >= 2),
        x2 AS (SELECT id, 2 AS dr FROM d2 WHERE d < 2),
        e3 AS (SELECT e2.src, e2.dst FROM e2
          JOIN a2 s ON e2.src = s.id JOIN a2 t ON e2.dst = t.id),
        d3 AS (SELECT a2.id, coalesce(c.d, 0) AS d FROM a2
          LEFT JOIN (SELECT src AS id, count(*) AS d FROM e3
            GROUP BY 1) c USING (id)),
        x3 AS (SELECT id, 3 AS dr FROM d3 WHERE d < 2),
        drp AS (SELECT * FROM x1 UNION ALL SELECT * FROM x2
          UNION ALL SELECT * FROM x3)
        SELECT nd.id AS doc_id, drp.dr IS NULL AS in_core,
          drp.dr::BIGINT AS dropped_round
        FROM nd LEFT JOIN drp ON nd.id = drp.id"""
        .replaceAll("\\s+", " "))),

    // general connected components over the near-dup graph:
    // fixed-round min-label propagation (4 rounds cover LSH-blob
    // eccentricities at these fixtures; the oracle replays the
    // identical unrolled rounds, so the result is exact-by-definition
    // even where a component's diameter exceeds the rounds).
    "graph_components" -> QueryDef(
      (s, dir) => Graph.connectedComponents(
        docs(s, dir).select(col("doc_id").as("id")),
        lshEdges(s, dir), rounds = 4)
        .select(col("id").as("doc_id"), col("component")),
      Some(componentsOracle(4))),

    // deterministic label-propagation communities over the candidate
    // graph: 3 synchronous rounds, most-frequent-neighbor label with
    // max-count/min-label tie-break — separates densely-linked
    // template blobs INSIDE a weakly-connected component (what
    // graph_components cannot see).
    "graph_labelprop" -> QueryDef(
      (s, dir) => Graph.labelPropagation(
        docs(s, dir).select(col("doc_id").as("id")),
        lshEdges(s, dir), rounds = 3)
        .select(col("id").as("doc_id"), col("community")),
      Some(labelPropOracle(3))),

    // per-node local clustering coefficient in exact floored bp —
    // WHICH documents sit inside a dense template blob (the corpus
    // triangle count localized). Triangles enumerate once at the
    // degree-ordered apex, then attribute to all three corners via a
    // 3-row explode; deg < 2 nodes have NULL coefficients.
    "graph_clustering" -> QueryDef(
      (s, dir) => Graph.clusteringCoefficient(
        docs(s, dir).select(col("doc_id").as("id")), lshEdges(s, dir))
        .select(col("id").as("doc_id"), col("degree"), col("n_tri"),
          col("coeff_bp")),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        $CandCte, $EdgeCte,
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        o AS (SELECT e.src, e.dst, dd.deg AS ddst FROM e
          JOIN deg ds ON e.src = ds.src JOIN deg dd ON e.dst = dd.src
          WHERE (ds.deg, e.src) < (dd.deg, e.dst)),
        wd AS (SELECT a.src AS u, a.dst AS v, b.dst AS w FROM o a
          JOIN o b ON a.src = b.src
          WHERE (a.ddst, a.dst) < (b.ddst, b.dst)),
        tr AS (SELECT wd.u, wd.v, wd.w FROM wd
          JOIN o ON o.src = wd.v AND o.dst = wd.w),
        pn AS (SELECT id, count(*)::BIGINT AS n_tri FROM (
            SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
            UNION ALL SELECT w FROM tr) GROUP BY 1)
        SELECT nd.id AS doc_id,
          coalesce(dg.deg, 0)::BIGINT AS degree,
          coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
          CASE WHEN coalesce(dg.deg, 0) >= 2 THEN
            ((2 * coalesce(pn.n_tri, 0) * 10000) //
             (dg.deg * (dg.deg - 1)))::BIGINT END AS coeff_bp
        FROM (SELECT doc_id AS id FROM documents) nd
        LEFT JOIN deg dg ON nd.id = dg.src
        LEFT JOIN pn ON nd.id = pn.id"""
        .replaceAll("\\s+", " "))),

    // degree assortativity of the near-dup graph: do hubs link to
    // hubs (template chains) or to leaves (hub-and-spoke
    // boilerplate)? Exact Long moment sums over the symmetrized edge
    // frame, one rounded correlation.
    "graph_assortativity" -> QueryDef(
      (s, dir) => Graph.assortativity(lshEdges(s, dir)),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        $CandCte, $EdgeCte,
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        j AS (SELECT da.deg AS a, db.deg AS b FROM e
          JOIN deg da ON e.src = da.src
          JOIN deg db ON e.dst = db.src),
        sm AS (SELECT count(*)::BIGINT AS n, sum(a)::BIGINT AS sa,
          sum(b)::BIGINT AS sb, sum(a*a)::BIGINT AS qa,
          sum(b*b)::BIGINT AS qb, sum(a*b)::BIGINT AS pab FROM j)
        SELECT n AS n_edges,
          CASE WHEN (n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
            > 0 AND (n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)
            > 0 THEN round(
            (n::DOUBLE * pab::DOUBLE - sa::DOUBLE * sb::DOUBLE) /
            (sqrt(n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE) *
             sqrt(n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)),
            4) END AS r_r
        FROM sm""".replaceAll("\\s+", " "))),

    "graph_pagerank" -> QueryDef(
      (s, dir) => Graph.pageRankInt(
        docs(s, dir).select(col("doc_id").as("id")),
        lshEdges(s, dir), iters = 3)
        .select(col("id").as("doc_id"), col("rank_u")),
      Some(pageRankOracle(3))),

    // exact triangle count via degree-ordered orientation — the
    // clustering-density companion to degrees/pagerank (a template
    // flood shows up as a dense triangle-rich blob; organic near-dups
    // are triangle-sparse). Wedges enumerate only at each edge's
    // lower (degree, id) endpoint, so hub fan-out stays bounded.
    "graph_triangles" -> QueryDef(
      (s, dir) => Graph.triangleCount(lshEdges(s, dir)),
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        $CandCte, $EdgeCte,
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        o AS (SELECT e.src, e.dst, dd.deg AS ddst FROM e
          JOIN deg ds ON e.src = ds.src JOIN deg dd ON e.dst = dd.src
          WHERE (ds.deg, e.src) < (dd.deg, e.dst)),
        wd AS (SELECT a.dst AS v, b.dst AS w FROM o a
          JOIN o b ON a.src = b.src
          WHERE (a.ddst, a.dst) < (b.ddst, b.dst))
        SELECT count(*)::BIGINT AS n_triangles FROM wd
        JOIN o ON o.src = wd.v AND o.dst = wd.w"""
        .replaceAll("\\s+", " "))),

    // exact n-gram Jaccard over LSH candidate pairs — the scale path:
    // candidates from banded MinHash-LSH, shingle-intersection counted
    // per candidate pair only (never the all-pairs co-shingle self-join,
    // whose common-shingle keys fan out quadratically at 100 TB). The
    // all-pairs form remains as a sf0.001 differential test in DedupSpec.
    "dedup_jaccard_pairs" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte,
        $BandCte, $CandCte,
        dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
        pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
          FROM cand c JOIN dsh a ON a.doc_id=c.id_a
          JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2)
        SELECT pr.id_a, pr.id_b,
          n_shared/(x.n_sh + y.n_sh - n_shared) AS jaccard FROM pr
        JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
        WHERE n_shared/(x.n_sh + y.n_sh - n_shared) >= $JaccardThreshold"""
        .replaceAll("\\s+", " "))),

    // BLOCKING-QUALITY meter for the LSH candidate generation: how
    // much of the quadratic pair space the bands pruned away
    // (reduction, in bp of n·(n−1)/2) and what fraction of the
    // surviving candidates a full Jaccard confirm keeps (precision,
    // bp) — the two numbers that justify an entity-resolution
    // blocking scheme. Recall against ground truth needs labels this
    // corpus lacks; SimilaritySpec's planted-dup fixtures pin that
    // side. All exact floored integers off three one-row aggregates.
    "dedup_blocking_quality" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val confirmed = Dedup.ngramJaccard(d, "doc_id", "text",
          ShingleLen, JaccardThreshold, candidates = Some(cand))
        d.agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(
            confirmed.agg(count(lit(1)).as("n_conf"))))
          .select(col("n_docs"), col("n_cand"), col("n_conf"),
            expr("(n_conf * 10000) div n_cand").as("precision_bp"),
            expr("((n_docs * (n_docs - 1) div 2 - n_cand) * 10000) " +
              "div (n_docs * (n_docs - 1) div 2)").as("reduction_bp"))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte,
        $BandCte, $CandCte,
        dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh
          GROUP BY 1),
        pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
          FROM cand c JOIN dsh a ON a.doc_id=c.id_a
          JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2),
        cf AS (SELECT count(*)::BIGINT AS n_conf FROM pr
          JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
          WHERE n_shared/(x.n_sh + y.n_sh - n_shared)
            >= $JaccardThreshold),
        nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        nc AS (SELECT count(*)::BIGINT AS n_cand FROM cand)
        SELECT n_docs, n_cand, n_conf,
          (n_conf * 10000) // n_cand AS precision_bp,
          ((n_docs * (n_docs - 1) // 2 - n_cand) * 10000) //
            (n_docs * (n_docs - 1) // 2) AS reduction_bp
        FROM nd CROSS JOIN nc CROSS JOIN cf"""
        .replaceAll("\\s+", " "))),

    // max-containment over the same LSH candidate pairs:
    // |A∩B| / min(|A|,|B|) — the ASYMMETRIC near-dup measure that
    // catches a small document embedded in a large one (boilerplate
    // wrappers, quote farms), which Jaccard's union denominator
    // dilutes below threshold. Same scale path as dedup_jaccard_pairs
    // (per-candidate intersection counts only, never all-pairs); the
    // ratio is one IEEE divide of exact Longs — engine-identical; the
    // 0.6 threshold is comparison-only (both engines parse the literal
    // to the same double; no arithmetic touches it).
    "dedup_containment_pairs" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        Dedup.ngramContainment(d, "doc_id", "text", ShingleLen,
          ContainmentThreshold, candidates = cand)
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte,
        $BandCte, $CandCte,
        dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
        pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
          FROM cand c JOIN dsh a ON a.doc_id=c.id_a
          JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2)
        SELECT pr.id_a, pr.id_b,
          n_shared/least(x.n_sh, y.n_sh) AS containment FROM pr
        JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
        WHERE n_shared/least(x.n_sh, y.n_sh) >= $ContainmentThreshold"""
        .replaceAll("\\s+", " "))),

    // duplicate clusters: connected components over the LSH-candidate
    // jaccard pairs (min-label propagation; oracle = DuckDB recursive
    // CTE transitive closure). Every doc appears; singletons label
    // themselves; cluster id = smallest member id (the kept
    // representative).
    "dedup_clusters" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
          .select(col("id_a"), col("id_b"))
        // shortcut=false: LSH near-dup blobs have tiny diameters, so
        // plain propagation converges in the same few rounds WITHOUT
        // the pointer-jumping self-join's extra two shuffles per round
        // (the documented constant-factor trade in dupClusters; the
        // shortcut ≡ plain fixpoint differential is in DedupSpec)
        Dedup.dupClusters(d, "doc_id", pairs, shortcut = false)
      },
      Some(s"""WITH RECURSIVE $ClusterReachCtes
        SELECT id, min(label)::BIGINT AS cluster FROM reach GROUP BY id"""
        .replaceAll("\\s+", " "))),

    // cluster-partition MODULARITY vs the candidate graph: how well
    // the confirm-derived dup clusters explain the LSH candidate
    // edges (cross-cluster candidates = blocking false positives;
    // Q = Σ_c [e_c/m − (d_c/2m)²], kept exact as
    // Q_num = Σ_c (4m·e_c − d_c²) over integers with ONE rounded
    // division) — the graph-level companion of
    // dedup_blocking_quality's pairwise precision.
    "dedup_cluster_modularity" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        // EAGER localCheckpoint: `cand` fans out to BOTH the
        // jaccard-confirm path (→ clusters) and the modularity
        // edge-labeling join below — without materializing it the
        // signature→band→candidate pipeline executes at least twice in
        // one query (and a third time inside dupClusters' edge cache
        // build). Checkpointing pins the ~|candidates|-row frame once;
        // every consumer reads materialized blocks.
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
            .localCheckpoint(true)
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
        // cl is consumed twice by the ce join — checkpoint it too
        // (dupClusters checkpoints its label frame internally, but the
        // returned frame re-joins docs for singletons)
        val cl = Dedup.dupClusters(d, "doc_id", pairs,
          shortcut = false).localCheckpoint(true)
        val ce = cand
          .join(cl.select(col("id").as("id_a"),
            col("cluster").as("ca0")), Seq("id_a"), "left_outer")
          .join(cl.select(col("id").as("id_b"),
            col("cluster").as("cb0")), Seq("id_b"), "left_outer")
          .select(coalesce(col("ca0"), col("id_a")).as("ca"),
            coalesce(col("cb0"), col("id_b")).as("cb"))
          // ce itself fans out four ways (m, e_c, and both d_c legs) —
          // checkpoint so the cluster-labeling joins run once
          .localCheckpoint(true)
        val mRow = ce.agg(count(lit(1)).as("m"))
        val ec = ce.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("cluster"))
          .agg(count(lit(1)).as("e_c"))
        val dg = ce.select(col("ca").as("cluster"))
          .unionAll(ce.select(col("cb").as("cluster")))
          .groupBy(col("cluster")).agg(count(lit(1)).as("d_c"))
        val q = dg.join(ec, Seq("cluster"), "left_outer")
          .select(col("cluster"), coalesce(col("e_c"), lit(0L))
            .as("e_c"), col("d_c"))
          .crossJoin(broadcast(mRow))
          .agg(count(lit(1)).as("n_clusters"),
            sum(lit(4L) * col("m") * col("e_c") -
              col("d_c") * col("d_c")).as("qn"))
        mRow.crossJoin(broadcast(q))
          .select(col("m"), col("n_clusters"),
            round(col("qn").cast("double") /
              (lit(4.0) * col("m").cast("double") *
                col("m").cast("double")), 6).as("q_r"))
      },
      Some(s"""WITH RECURSIVE $ClusterReachCtes,
        cl AS (SELECT id, min(label)::BIGINT AS cluster FROM reach
          GROUP BY id),
        ce AS (SELECT ca.cluster AS ca, cb.cluster AS cb
          FROM cand c JOIN cl ca ON ca.id = c.id_a
          JOIN cl cb ON cb.id = c.id_b),
        mm AS (SELECT count(*)::BIGINT AS m FROM ce),
        ecf AS (SELECT ca AS cluster, count(*)::BIGINT AS e_c FROM ce
          WHERE ca = cb GROUP BY 1),
        dg AS (SELECT cluster, count(*)::BIGINT AS d_c FROM (
          SELECT ca AS cluster FROM ce
          UNION ALL SELECT cb FROM ce) GROUP BY 1),
        q AS (SELECT dg.cluster, coalesce(ecf.e_c, 0) AS e_c, dg.d_c
          FROM dg LEFT JOIN ecf USING (cluster)),
        sq AS (SELECT count(*)::BIGINT AS n_clusters,
          sum(4 * mm.m * q.e_c - q.d_c * q.d_c)::BIGINT AS qn
          FROM q CROSS JOIN mm)
        SELECT mm.m, sq.n_clusters,
          round(sq.qn::DOUBLE /
            (4.0 * mm.m::DOUBLE * mm.m::DOUBLE), 6) AS q_r
        FROM mm CROSS JOIN sq""".replaceAll("\\s+", " "))),

    // canonical-copy selection: within every duplicate cluster keep
    // the doc with the LARGEST n_chars (least-truncated copy — "keep
    // the best, not the first"), vote ties to the smallest id. Argmax
    // is a struct-max aggregate joined back on cluster — two
    // map-side-combined exchanges, no per-cluster window sort.
    "dedup_keep_best" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
          .select(col("id_a"), col("id_b"))
        Dedup.keepBest(
          Dedup.dupClusters(d, "doc_id", pairs, shortcut = false),
          d, "doc_id", "n_chars")
      },
      Some(s"""WITH RECURSIVE $ClusterReachCtes,
        cl AS (SELECT id, min(label)::BIGINT AS cluster FROM reach
          GROUP BY id),
        j AS (SELECT cl.id, cl.cluster, d.n_chars::BIGINT AS score
          FROM cl JOIN documents d ON cl.id = d.doc_id),
        b AS (SELECT cluster, id AS keep_id FROM (
          SELECT cluster, id, row_number() OVER (PARTITION BY cluster
            ORDER BY score DESC, id) AS rn FROM j) WHERE rn = 1)
        SELECT j.id, j.cluster, j.score, (j.id = b.keep_id) AS keep,
          b.keep_id
        FROM j JOIN b USING (cluster)""".replaceAll("\\s+", " "))),

    // THE composed dedup pipeline — the shape a real corpus build runs:
    // signatures → bands → candidate pairs → jaccard filter → connected
    // components, materialized ONCE end-to-end (dupClusters caches the
    // edge set, so the minhash/LSH/jaccard substrate executes a single
    // time), then annotated per doc with its cluster size and the
    // keep/drop verdict. Sizes come from one count-window over the
    // cluster label (bounded per-cluster groups), not a second
    // aggregate+join pass over the labels.
    "dedup_pipeline" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
          .select(col("id_a"), col("id_b"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))
        // shortcut=false: same tiny-diameter trade as dedup_clusters
        Dedup.dupClusters(d, "doc_id", pairs, shortcut = false)
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("id"), col("cluster"), col("cluster_size"),
            (col("id") === col("cluster")).as("is_representative"))
      },
      Some(s"""WITH RECURSIVE $WordsCte, $ShingleCte, $SigCte,
        $BandCte, $CandCte,
        dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
        pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
          FROM cand c JOIN dsh a ON a.doc_id=c.id_a
          JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2),
        jp AS (SELECT pr.id_a, pr.id_b FROM pr
          JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
          WHERE n_shared/(x.n_sh + y.n_sh - n_shared)
            >= $JaccardThreshold),
        ed AS (SELECT id_a AS src, id_b AS dst FROM jp
          UNION ALL SELECT id_b, id_a FROM jp),
        reach AS (
          SELECT doc_id AS id, doc_id AS label FROM documents
          UNION
          SELECT ed.dst AS id, reach.label FROM reach
          JOIN ed ON ed.src = reach.id),
        lab AS (SELECT id, min(label)::BIGINT AS cluster FROM reach
          GROUP BY id),
        cs AS (SELECT cluster, count(*)::BIGINT AS cluster_size FROM lab
          GROUP BY 1)
        SELECT lab.id, lab.cluster, cs.cluster_size,
          lab.id = lab.cluster AS is_representative
        FROM lab JOIN cs ON lab.cluster = cs.cluster"""
        .replaceAll("\\s+", " "))),

    // 60-bit SimHash fingerprints.
    "dedup_simhash" -> QueryDef(
      (s, dir) => Dedup.simhash(docs(s, dir), "doc_id", "text"),
      Some {
        val votes = (0 until 60)
          .map(b => s"sum(((h>>$b)&1)*2-1) AS v$b").mkString(", ")
        val packed = (0 until 60)
          .map(b => s"CASE WHEN v$b>0 THEN ${1L << b} ELSE 0 END")
          .mkString("(", " + ", ")")
        s"""WITH wd AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
          FROM documents),
          h AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT AS h
          FROM wd),
          v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id)
          SELECT doc_id AS id, $packed::BIGINT AS simhash FROM v"""
          .replaceAll("\\s+", " ")
      }),

    // SimHash near-dup pairs via Hamming banding: 4 bands of 15 bits,
    // pairs sharing any band value filtered to exact hamming ≤ 3 —
    // EXACT recall at that radius by pigeonhole (one band must be
    // untouched), unlike the probabilistic MinHash-LSH chain. The
    // oracle replicates banding + bit_count(xor) bit-for-bit.
    "dedup_simhash_pairs" -> QueryDef(
      (s, dir) => Dedup.simhashNearDupPairs(docs(s, dir), "doc_id",
        "text", maxHamming = 3, bands = 4),
      Some {
        val votes = (0 until 60)
          .map(b => s"sum(((h>>$b)&1)*2-1) AS v$b").mkString(", ")
        val packed = (0 until 60)
          .map(b => s"CASE WHEN v$b>0 THEN ${1L << b} ELSE 0 END")
          .mkString("(", " + ", ")")
        s"""WITH wd AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
          FROM documents),
          h AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT AS h
          FROM wd),
          v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
          sh AS (SELECT doc_id AS id, $packed::BIGINT AS simhash FROM v),
          bx AS (SELECT id, simhash, g.b AS band,
            (simhash >> (g.b*15)) & 32767 AS band_key
            FROM sh, (SELECT unnest(generate_series(0,3)) AS b) g),
          cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
            a.simhash AS sh_a, b.simhash AS sh_b FROM bx a
            JOIN bx b ON a.band=b.band AND a.band_key=b.band_key
              AND a.id < b.id)
          SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
          FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3"""
          .replaceAll("\\s+", " ")
      }),

    // embedding near-duplicate pairs (cosine ≥ 0.95) via SRP-LSH buckets
    // — the scale path (bucketed self-join, no crossJoin). The DuckDB
    // oracle is the exact all-pairs form: at a 0.95 threshold with
    // 8 planes × 8 tables the LSH miss probability per true pair is ≈1%.
    // NOTE: the synthetic embeddings at every SF have NO true pairs at
    // 0.95 (engine and oracle both return 0 rows — the hash match alone
    // is vacuous); the non-vacuous evidence is DedupSpec's
    // planted-duplicate test (recall ≥ 0.95 over 60 planted near-dups)
    // plus the subset+identical-cosine differential at threshold 0.4.
    "dedup_embedding_neardup" -> QueryDef(
      (s, dir) => Dedup
        .embeddingNearDupLsh(emb(s, dir), "vec_id", "embedding", 0.95,
          dim = 64, numPlanes = 8, numTables = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6)
          .as("cosine_r")),
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_transform(generate_series(1,64),
            i -> a.v[i]*b.v[i]), (x,y) -> x+y) /
          (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y)))
          AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(cosine,6) AS cosine_r FROM p
        WHERE cosine >= 0.95""".replaceAll("\\s+", " "))),

    // brute-force cosine top-5 for query vectors vec_id < 16.
    // Maximum-inner-product retrieval (two-tower/recommender mode):
    // top-5 by RAW dot — norm information cosine would normalize away
    // is the ranking signal. Same broadcast + bounded-heap plan as
    // brute force; the ascending-index dot fold is bit-identical in
    // both engines, so the 6-dp score hash-matches exactly.
    "ann_mips_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.mipsTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("ip_r"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 16),
        s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
          list_reduce(list_transform(generate_series(1,64),
            i -> q.qv[i]*c.v[i]), (x,y) -> x+y) AS ip
        FROM q, v c WHERE c.vec_id != q.qid)
        SELECT query_id, rank, neighbor_id, ip_r FROM (
          SELECT query_id, neighbor_id, round(ip,6) AS ip_r,
          row_number() OVER (PARTITION BY query_id
            ORDER BY round(ip,6) DESC, neighbor_id) AS rank FROM s
          WHERE ip IS NOT NULL)
        WHERE rank <= 5""".replaceAll("\\s+", " "))),

    "ann_bruteforce_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // IVF ANN (k-means coarse quantizer + inverted-list probing) — the
    // second scale path besides SRP-LSH. Registry config is the
    // DEGENERATE-EXACT corner (nprobe = nlist ⇒ every inverted list is
    // probed, so every candidate is cosine-scored exactly like
    // bruteForceTopK — quantizer quality is irrelevant to the result),
    // which makes the full train → assign → probe → score → rank path
    // DuckDB-oracled end-to-end. Pruned-probe recall (nprobe < nlist)
    // is pinned in SimilaritySpec.
    "ann_ivf_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // INCREMENTAL IVF — the persistent-index maintenance pair (the ANN
    // twin of dedup_inc_*): a FIXED codebook (the four smallest
    // vec_ids as deterministic anchors, standing in for the persisted
    // centroids) lets new embeddings join the index by nearest-anchor
    // assignment alone — no re-clustering, no stored-corpus scan, and
    // the whole path is hash-checked (unlike trained-codebook IVF,
    // whose quality is recall-floored). Assignment: the new batch
    // (vec_id % 10 = 9) against the codebook.
    "ann_ivf_inc_assign" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfAssignFixed(
          e.filter(pmod(col("vec_id"), lit(10)) === 9),
          "vec_id", "embedding", fixedAnchors(e))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        a AS (SELECT vec_id AS list, v AS av FROM v WHERE vec_id < 4),
        nb AS (SELECT vec_id, v FROM v WHERE vec_id % 10 = 9
          AND list_reduce(list_transform(v, x -> x*x),
            (x,y) -> x+y) > 0),
        s0 AS (SELECT nb.vec_id, a.list,
          round(list_reduce(list_transform(generate_series(1,64),
            i -> nb.v[i]*a.av[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(nb.v, x -> x*x),
                (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(a.av, x -> x*x),
                (x,y) -> x+y))), 6) AS cos_r
          FROM nb, a),
        r AS (SELECT vec_id, list, cos_r, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_r DESC, list) AS rk
          FROM s0)
        SELECT vec_id, list::BIGINT AS list, cos_r FROM r
        WHERE rk = 1""".replaceAll("\\s+", " "))),

    // the probe half: nProbe=1 queries over the fixed codebook — each
    // query ranks ONLY its own list's members (corpus/k per list,
    // never all-pairs), deterministic and hash-checked end to end.
    "ann_ivf_inc_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfTopKFixed(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", fixedAnchors(e), 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(IvfIncTopKSql)),

    // the SAME probe served from the PERSISTED two-tier index (r16):
    // codebook persisted, corpus ingested as a batch, epoch compacted
    // into list= partitions, then ivfIndexTopK lists ONLY the probed
    // lists' partitions (the PlanSpec-pinned shape). One oracle with
    // ann_ivf_inc_topk — hash-matching it proves partition pruning
    // never changes the answer.
    "ann_ivf_inc_pruned_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfpp_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.ivfIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        graft.streaming.StreamIngest.ivfIndexTopK(s,
          e.filter(col("vec_id") < 16), "vec_id", "embedding", idx, 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(IvfIncTopKSql)),

    // INDEX RETENTION, ANN face (r16): the retention fold drops
    // expired vec_ids' assignments; the served top-k then ranks only
    // SURVIVORS — oracle computed over the post-delete corpus (every
    // vec_id % 10 == 7 deleted; queries stay vec_id < 16).
    "ann_ivf_expired_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfex_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.ivfIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx,
          liveIds = Some(e.filter(pmod(col("vec_id"), lit(10)) =!= 7)
            .select(col("vec_id"))))
        graft.streaming.StreamIngest.ivfIndexTopK(s,
          e.filter(col("vec_id") < 16), "vec_id", "embedding", idx, 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(ivfIncTopKSql(corpusPred = "nz.vec_id % 10 != 7"))),

    // MULTI-probe serve over the persistent index (r16): nProbe=2 —
    // each query scores the UNION of its two best lists' stored
    // vectors (the standard IVF recall lever), still deterministic
    // end to end (probe selection AND ranking on the 6dp contract,
    // IvfProbe6 kernel) and still partition-pruned to the probed
    // lists — so it is hash-checked like the nProbe=1 face, never
    // recall-floored.
    "ann_ivf_inc_multiprobe_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfmp_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.ivfIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        graft.streaming.StreamIngest.ivfIndexTopK(s,
          e.filter(col("vec_id") < 16), "vec_id", "embedding", idx, 5,
          nProbe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(ivfIncTopKSql(corpusPred = "TRUE", nProbe = 2))),

    // PQ/CODES face of the persistent IVF index (r17): the index
    // stores (vec_id, list, codes) — numSub small ints per vector
    // instead of dim floats (the assign/ face is corpus-sized in
    // float64s; at 100 TB the codes face is the one that still
    // fits) — and the serve is IVFADC: ADC shortlist over the probed
    // lists' stored codes, exact re-rank against the CORPUS parquet
    // (the index never stores a raw vector). Registry config is the
    // DEGENERATE-EXACT corner (nProbe = nlist = 4 so every list is
    // probed; k·refine = 5000 ≥ |embeddings| ≤ 2000 so the ADC
    // shortlist keeps every candidate and the exact re-rank sees
    // them all — exactness holds whatever the codebook quality), so
    // the full persisted path — books init, codes ingest, list=
    // fold, pruned serve — is DuckDB-oracled against the brute-force
    // ranking. Production recall/cost at lower nProbe/refine is the
    // ann_ivfpq_recall meter's job.
    "ann_ivfpq_inc_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfpqi_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.pqBooksInit(s, idx,
          Similarity.trainPqBooks(e, "vec_id", "embedding",
            numSub = 8, ksub = 16))
        graft.streaming.StreamIngest.ivfPqIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        graft.streaming.StreamIngest.ivfPqIndexTopK(s,
          e.filter(col("vec_id") < 16), "vec_id", "embedding", idx,
          corpus = e, k = 5, nProbe = 4, refine = 1000)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // CODEBOOK DRIFT REPAIR (r18): grow BOTH persisted faces under
    // the fixed 4-anchor codebook, fold, then reclusterIvfIndex —
    // retrain the coarse codebook on the stored vectors, re-assign
    // the epoch in one IvfAssign6 pass, RE-LABEL the codes face, and
    // swap each face's manifest (codes first, assign last; per-face
    // `codebook=` resolution). Both serves run AFTER the swap at the
    // degenerate-exact corner (nProbe = the re-trained nlist = 4,
    // k·refine ≥ |corpus|), so the re-assigned epoch AND the
    // re-labeled codes face must each reproduce the brute-force
    // ranking exactly — the re-cluster may change the layout, never
    // the answer. Production skew triggering lives on the daemon
    // tick (maintainIndexes + index-max-skew; StreamIngestSpec pins
    // the skew detect → re-cluster → balanced-lists path).
    "ann_ivf_recluster_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfrc_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.pqBooksInit(s, idx,
          Similarity.trainPqBooks(e, "vec_id", "embedding",
            numSub = 8, ksub = 16))
        // both faces grown under ONE lock pass, writes overlapped
        // (r22, guide §2.6) — identical layout to the sequential
        // ivfIngestBatch + ivfPqIngestBatch calls this replaces
        graft.streaming.StreamIngest.ivfIngestBothFaces(e, "vec_id",
          "embedding", idx, 0L, 1L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        require(graft.streaming.StreamIngest.reclusterIvfIndex(s,
          idx, nlist = 4), "re-cluster did not commit")
        val qs = e.filter(col("vec_id") < 16)
        // the two serve frames are read-only and independent — their
        // CONSTRUCTION (each pays probe-selection collect() driver
        // round-trips) overlaps too (guide §2.6); the union is
        // unchanged
        val (sa, sc) = graft.streaming.StreamIngest.inParallelFaces(
          graft.streaming.StreamIngest.ivfIndexTopK(s,
            qs, "vec_id", "embedding", idx, 5, nProbe = 4),
          graft.streaming.StreamIngest.ivfPqIndexTopK(
            s, qs, "vec_id", "embedding", idx, corpus = e, k = 5,
            nProbe = 4, refine = 1000))
        val served = sa.withColumn("face", lit("assign"))
          .unionByName(sc.withColumn("face", lit("codes")))
        served.select(col("face"), col("query_id"),
          col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine_r"))
      },
      Some(ReclusterOracle)),

    // PER-LIST INCREMENTAL DRIFT REPAIR (r19): same two-face grown
    // index, but the maintenance-plane repair — splitIvfLists — is
    // the one that runs: ONLY the over-threshold lists' rows move
    // (partition-pruned read, sub-centroids trained on those rows
    // alone, one delta segment + list-tombstone per face, starved
    // anchors pruned); untouched lists keep their segments
    // byte-for-byte. Served after the repair at the degenerate-exact
    // corner (nProbe = the post-repair nlist, k·refine ≥ |corpus|),
    // so whatever sub-codebook the split produced, BOTH faces must
    // still reproduce the brute-force ranking — the repair may
    // change the layout, never the answer. IO locality, crash
    // convergence, and the clone guard are StreamIngestSpec-pinned;
    // repair-cost-vs-store-size is an IndexProbe axis.
    "ann_ivf_split_topk" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfsp_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.pqBooksInit(s, idx,
          Similarity.trainPqBooks(e, "vec_id", "embedding",
            numSub = 8, ksub = 16))
        // both faces grown under ONE lock pass, writes overlapped
        // (r22, guide §2.6) — identical layout to the sequential
        // ivfIngestBatch + ivfPqIngestBatch calls this replaces
        graft.streaming.StreamIngest.ivfIngestBothFaces(e, "vec_id",
          "embedding", idx, 0L, 1L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        require(graft.streaming.StreamIngest.splitIvfLists(s, idx,
          maxSkew = 1.01), "split repair did not commit")
        val nAll = graft.streaming.StreamIngest
          .readIvfCentroids(s, idx).length
        val qs = e.filter(col("vec_id") < 16)
        // serve-frame construction overlapped — same shape as
        // ann_ivf_recluster_topk above (guide §2.6)
        val (sa, sc) = graft.streaming.StreamIngest.inParallelFaces(
          graft.streaming.StreamIngest.ivfIndexTopK(s,
            qs, "vec_id", "embedding", idx, 5, nProbe = nAll),
          graft.streaming.StreamIngest.ivfPqIndexTopK(
            s, qs, "vec_id", "embedding", idx, corpus = e, k = 5,
            nProbe = nAll, refine = 1000))
        val served = sa.withColumn("face", lit("assign"))
          .unionByName(sc.withColumn("face", lit("codes")))
        served.select(col("face"), col("query_id"),
          col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine_r"))
      },
      Some(ReclusterOracle)),

    // INDEX OBSERVABILITY (r18): the SHOW-style stats frame over a
    // deterministically grown index — one folded epoch (wm=0, one
    // segment holding every non-zero-norm embedding) plus one live
    // hot batch (the vec_id < 100 re-ingest), zero in-flight
    // markers, init codebook, and the list-size skew the drift
    // trigger compares against. The oracle recomputes every count
    // (and the skew, via the shared fixed-anchor assignment CTEs)
    // from the embeddings table alone — everything indexStats reads
    // from manifests and listings must equal what the data implies.
    // Byte sizes and marker ages are real but non-reproducible in
    // SQL, so the entry selects the deterministic columns; the spec
    // covers the rest (incl. live-stall reporting). Served at GET
    // /api/indexstats for operators (StatusServerSpec E2E).
    "index_stats" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_idxst_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.ivfIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx): Unit
        graft.streaming.StreamIngest.ivfIngestBatch(
          e.filter(col("vec_id") < 100), "vec_id", "embedding",
          idx, 1L)
        graft.streaming.StreamIngest.indexStats(s, Seq(idx))
          .select(col("tier"), col("wm"),
            col("segments").cast("long").as("segments"),
            col("seg_rows"),
            col("hot_batches").cast("long").as("hot_batches"),
            col("hot_rows"),
            col("inflight").cast("long").as("inflight"),
            col("codebook"),
            round(col("list_skew"), 6).as("list_skew"))
      },
      Some(IndexStatsSql)),

    // INCREMENTAL SemDeDup over the persistent IVF index (r16) — the
    // index's third face: the stored corpus (vec_id % 10 != 9) is
    // ingested and compacted once; the arriving batch (% 10 == 9)
    // assigns against the SAME persisted codebook and takes its
    // semantic-duplicate verdicts against ONLY its own lists' stored
    // vectors (epoch scan list-pruned), plus the earlier-sibling rule
    // within the batch — no re-clustering, no corpus re-scan. The
    // oracle computes the identical within-list rule in DuckDB
    // (degenerate-exact: raw single-division cosines, threshold away
    // from any boundary — the dedup_semantic convention).
    "dedup_semantic_inc" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_semin_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          fixedAnchors(e))
        graft.streaming.StreamIngest.ivfIngestBatch(
          e.filter(pmod(col("vec_id"), lit(10)) =!= 9), "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx)
        graft.streaming.StreamIngest.semanticIngestBatch(
          e.filter(pmod(col("vec_id"), lit(10)) === 9), "vec_id",
          "embedding", idx, s"$root/marks", 1L, threshold = 0.3)
        s.read.parquet(s"$root/marks")
          .select(col("vec_id"), col("is_dup"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        a AS (SELECT vec_id AS list, v AS av FROM v WHERE vec_id < 4),
        nz AS (SELECT vec_id, v FROM v
          WHERE list_reduce(list_transform(v, x -> x*x),
            (x,y) -> x+y) > 0),
        s0 AS (SELECT nz.vec_id, a.list,
          round(list_reduce(list_transform(generate_series(1,64),
            i -> nz.v[i]*a.av[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(nz.v, x -> x*x),
                (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(a.av, x -> x*x),
                (x,y) -> x+y))), 6) AS cos_r
          FROM nz, a),
        asg AS (SELECT vec_id, list FROM (SELECT vec_id, list,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cos_r DESC, list) AS rk FROM s0) WHERE rk = 1),
        st AS (SELECT nz.vec_id AS sid, nz.v AS sv, asg.list
          FROM nz JOIN asg ON nz.vec_id = asg.vec_id
          WHERE nz.vec_id % 10 != 9),
        nb AS (SELECT nz.vec_id AS nid, nz.v AS nv, asg.list
          FROM nz JOIN asg ON nz.vec_id = asg.vec_id
          WHERE nz.vec_id % 10 = 9),
        pd AS (SELECT DISTINCT nb.nid FROM nb JOIN st
            ON nb.list = st.list
          WHERE list_reduce(list_transform(generate_series(1,64),
              i -> nb.nv[i]*st.sv[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(nb.nv, x -> x*x),
                (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(st.sv, x -> x*x),
                (x,y) -> x+y))) >= 0.3),
        pw AS (SELECT DISTINCT y.nid FROM nb x JOIN nb y
            ON x.list = y.list AND x.nid < y.nid
          WHERE list_reduce(list_transform(generate_series(1,64),
              i -> x.nv[i]*y.nv[i]), (x2,y2) -> x2+y2)
            / (sqrt(list_reduce(list_transform(x.nv, x2 -> x2*x2),
                (x2,y2) -> x2+y2))
             * sqrt(list_reduce(list_transform(y.nv, x2 -> x2*x2),
                (x2,y2) -> x2+y2))) >= 0.3)
        SELECT nb.nid AS vec_id,
          (nb.nid IN (SELECT nid FROM pd)
            OR nb.nid IN (SELECT nid FROM pw)) AS is_dup
        FROM nb""".replaceAll("\\s+", " "))),

    // Product-quantization ANN (ADC shortlist over an 8-byte code table
    // + exact re-rank) — the memory-bound scale path: the corpus-wide
    // frame holds codes, never float vectors. Registry config is the
    // DEGENERATE-EXACT corner (k·refine = 5000 ≥ |embeddings| at every
    // SF — fixtures are 500/500/2000, see ann_pca_topk — ⇒ the ADC
    // shortlist is exhaustive and the exact cosine re-rank sees every
    // candidate, so codebook quality is irrelevant to the result),
    // which DuckDB-oracles the full train → encode → ADC → re-rank
    // path end-to-end; a larger future SF needs refine raised in step.
    // Pruned-shortlist recall (refine = 8) stays in SimilaritySpec.
    "ann_pq_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.pqTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", k = 5, numSub = 8, ksub = 16,
          refine = 1000)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // IVFADC (IVF × PQ): the query ADC-scans only its probed inverted
    // lists over a codes-only corpus frame — the composed 100 TB ANN
    // architecture. Registry config is the DEGENERATE-EXACT corner
    // (nprobe = nlist ⇒ all lists scanned; k·refine = 5000 ≥
    // |embeddings| at every SF — fixtures are 500/500/2000, see
    // ann_pca_topk — ⇒ the ADC shortlist is exhaustive and the exact
    // cosine re-rank sees every candidate, so codebook quality is
    // irrelevant to the result), which DuckDB-oracles the full
    // train → encode → probe → ADC → re-rank path end-to-end; a larger
    // future SF needs refine raised in step. Pruned recall and the
    // nprobe=nlist ≡ PQ-alone differential stay in SimilaritySpec.
    "ann_ivfpq_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16,
          numSub = 8, ksub = 16, refine = 1000)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // PCA-reduced ANN: kDim/dim of the brute-force flop and memory cost
    // for the shortlist scan, exact-cosine re-rank after — the linear
    // dim-reduction leg of the ANN family (composes with PQ as OPQ in
    // the literature). Approximate by design (rows-only); kDim=dim
    // exactness and reduced-dim recall are pinned in SimilaritySpec.
    // registry config is the DEGENERATE-EXACT corner (kDim = dim ⇒ the
    // projection is an isometry; the k·refine = 5000 shortlist is
    // exhaustive while |embeddings| ≤ 5000 — fixtures are 500/500/2000
    // at sf0.001/0.01/0.1; a larger future SF needs refine raised in
    // step ⇒ the exact re-rank sees every candidate), so the full PCA
    // fit + kernel projection + shortlist + re-rank path is
    // DuckDB-oracled end-to-end against the brute-force ranking.
    // Reduced-dim recall is pinned in SimilaritySpec.
    "ann_pca_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.pcaTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", k = 5, kDim = 64, refine = 1000)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnExactOracle)),

    // LSH-bucketed ANN (sign-random-projection). Approximate vs brute
    // force (recall pinned in ScalaTest), but fully ORACLED anyway: the
    // md5-derived hyperplanes and order-fixed bucket dots let DuckDB
    // rebuild the exact same buckets, then re-rank candidates by exact
    // cosine — see AnnLshOracle. The oracle checks the TRUE approximate
    // result, not a degenerate config.
    "ann_lsh_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.lshTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", k = 5, dim = AnnDim,
          numPlanes = LshPlanes, numTables = LshTables)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cosine_r"))
      },
      Some(AnnLshOracle)),

    // 1-bit binary-quantized retrieval: sign bits pack each 64-dim
    // embedding into ONE Long (64× memory compression — a billion
    // vectors in 8 GB of codes) and ranking is XOR+popcount through
    // the bounded-heap TopKAgg — the cheapest candidate generator in
    // the ANN family, and EXACT integers end to end, so the TRUE
    // approximate ranking is fully oracled (no degenerate config).
    "ann_binary_topk" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.binaryTopK(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", dim = AnnDim, k = 5)
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        bq AS (SELECT vec_id, list_reduce(list_transform(
          generate_series(1, $AnnDim), i -> CASE WHEN v[i] > 0
            THEN (CASE WHEN i = 64 THEN -9223372036854775807 - 1
              ELSE (1::BIGINT << (i-1)) END)
            ELSE 0::BIGINT END),
          (a, b) -> a + b) AS c FROM v),
        q AS (SELECT vec_id AS qid, c AS qc FROM bq
          WHERE vec_id < 16),
        s AS (SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
          bit_count(xor(q.qc, b.c))::BIGINT AS hamming
          FROM q, bq b WHERE b.vec_id != q.qid)
        SELECT query_id, rank, neighbor_id, hamming FROM (
          SELECT query_id, neighbor_id, hamming,
            row_number() OVER (PARTITION BY query_id
              ORDER BY hamming, neighbor_id) AS rank FROM s)
        WHERE rank <= 5""".replaceAll("\\s+", " "))),

    // the binary cascade's QUALITY meter: recall@5 of the Hamming
    // ranking vs exact cosine — rows-only like the other ann_*_recall
    // meters (floor pinned in SimilaritySpec).
    "ann_binary_recall" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          Similarity.binaryTopK(q, e, "vec_id", "embedding",
            dim = AnnDim, k = 5),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // ANN QUALITY meters at REALISTIC operating points — the
    // degenerate-exact oracles above prove the paths are exact when
    // exhaustive; these three prove the APPROXIMATE configurations
    // stay useful, so a quality regression in probe selection /
    // banding / shortlisting can't hide behind an exact-corner
    // oracle. Each reports per-query recall@5 vs the brute-force
    // frame as exact floored basis points (rows-only by design: the
    // k-means/SRP internals aren't SQL; floors pinned at sf0.1 in
    // SimilaritySpec).
    // IVF at the production rule-of-thumb nprobe ≈ √nlist.
    "ann_ivf_recall" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 5,
            nlist = 16, nprobe = 4),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // SRP-LSH at a realistic band budget: 6 planes × 8 tables scans
    // ~12% of the corpus per query on the isotropic fixtures (the
    // 8×2 oracle config above optimizes for oracle-able determinism,
    // not recall — isotropic random vectors are LSH's worst case, so
    // the recall meter runs where the method is actually operated:
    // more tables, shorter codes).
    "ann_lsh_recall" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          Similarity.lshTopK(q, e, "vec_id", "embedding", k = 5,
            dim = AnnDim, numPlanes = 6, numTables = 8),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // multi-probe LSH at the SAME band budget as ann_lsh_recall: the
    // query additionally probes its 2 closest-margin neighboring
    // buckets per table — recall of more tables for the memory of
    // these (candidate SUPERSET of the plain probe, so its recall can
    // only improve; the ordering + floors live in SimilaritySpec).
    "ann_lsh_multiprobe_recall" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          Similarity.lshMultiProbeTopK(q, e, "vec_id", "embedding",
            k = 5, dim = AnnDim, numPlanes = 6, numTables = 8,
            probes = 2),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // IVFADC with pruned probes AND a pruned ADC shortlist — the
    // configuration a 100 TB deployment actually runs.
    "ann_ivfpq_recall" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          Similarity.ivfPqTopK(q, e, "vec_id", "embedding", k = 5,
            nlist = 16, nprobe = 4, numSub = 8, ksub = 16,
            refine = 8),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // The SAME production corner served from the PERSISTENT codes
    // face (r18): trained nlist=16 codebook persisted at init, codes
    // ingested and folded into list= segments, IVFADC served at
    // nProbe=4/refine=8 over the GROWN index. The degenerate-exact
    // oracle (ann_ivfpq_inc_topk) proves the plumbing; this meter
    // watches serving QUALITY where pruning is real, so a codes-face
    // regression (mislabeled lists, stale books, wrong partition
    // pruning) surfaces as a recall drop even when it cannot break
    // the exhaustive corner. Rows-only registry check; floor pinned
    // in SimilaritySpec next to the batch meter's.
    "ann_ivfpq_inc_recall" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_ivfpqr_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val e = emb(s, dir)
        val idx = s"$root/idx"
        graft.streaming.StreamIngest.ivfIndexInit(s, idx,
          Similarity.trainIvfAnchors(e, "vec_id", "embedding", 16))
        graft.streaming.StreamIngest.pqBooksInit(s, idx,
          Similarity.trainPqBooks(e, "vec_id", "embedding",
            numSub = 8, ksub = 16))
        graft.streaming.StreamIngest.ivfPqIngestBatch(e, "vec_id",
          "embedding", idx, 0L)
        graft.streaming.StreamIngest.compactIvfIndex(s, idx): Unit
        val q = e.filter(col("vec_id") < 16)
        Similarity.recallAtK(
          graft.streaming.StreamIngest.ivfPqIndexTopK(s, q,
            "vec_id", "embedding", idx, corpus = e, k = 5,
            nProbe = 4, refine = 8),
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          k = 5)
      },
      None),

    // RAKE keyword extraction: maximal stopword-free word runs (≤ 4
    // words — the standard cap; score grows with run length, so
    // uncapped extraction degenerates to the longest stretch) scored
    // by the sum of their words' degree/frequency ratios (floored bp
    // — exact integers where the paper's rational sums would smear);
    // corpus-wide top-20 phrases via TakeOrdered bounded heaps. The
    // phrase-mining companion to text_tfidf_topk (TF-IDF ranks
    // WORDS; RAKE surfaces multi-word PHRASES).
    "text_rake_keywords" -> QueryDef(
      (s, dir) => TextAnalysis.rakeKeywords(docs(s, dir), "doc_id",
        "text", Stopwords, k = 20),
      Some(s"""WITH w0 AS (SELECT doc_id AS id,
          unnest(string_split(text, ' ')) AS w,
          unnest(generate_series(1,
            len(string_split(text, ' ')))) AS pos
          FROM documents),
        wf AS (SELECT id, w, pos,
          w IN (${Stopwords.map("'" + _ + "'").mkString(",")})
            AS stop FROM w0),
        wr AS (SELECT id, w, pos, stop,
          sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER
            (PARTITION BY id ORDER BY pos) AS run FROM wf),
        pw AS (SELECT id, w, pos, run FROM wr
          WHERE NOT stop AND w <> ''),
        ph AS (SELECT id, run, count(*)::BIGINT AS len,
          string_agg(w, ' ' ORDER BY pos) AS phrase FROM pw
          GROUP BY 1, 2 HAVING count(*) <= 4),
        ws AS (SELECT w, count(*)::BIGINT AS freq,
          sum(len)::BIGINT AS degree,
          (sum(len) * 10000) // count(*) AS score_bp
          FROM pw JOIN ph USING (id, run) GROUP BY 1),
        inst AS (SELECT pw.id, pw.run, ph.phrase, ph.len,
          sum(ws.score_bp)::BIGINT AS sc
          FROM pw JOIN ph USING (id, run) JOIN ws USING (w)
          GROUP BY 1, 2, 3, 4)
        SELECT phrase, max(len)::BIGINT AS n_words,
          count(*)::BIGINT AS n_occur, max(sc)::BIGINT AS score_bp
        FROM inst GROUP BY phrase
        ORDER BY score_bp DESC, phrase LIMIT 20"""
        .replaceAll("\\s+", " "))),

    // text quality metrics.
    "text_quality" -> QueryDef(
      (s, dir) => TextAnalysis.quality(docs(s, dir), "doc_id", "text",
        Stopwords),
      Some(s"""WITH $WordsCte,
        t AS (SELECT d.doc_id, d.text, words.w FROM documents d
              JOIN words ON d.doc_id=words.doc_id)
        SELECT doc_id AS id, len(w)::BIGINT AS n_words,
        length(text)::BIGINT AS n_chars,
        length(text)/len(w) AS avg_token_len,
        len(list_distinct(w))/len(w) AS distinct_ratio,
        len(list_filter(w, x -> list_contains(
          [${Stopwords.map("'" + _ + "'").mkString(",")}], x)))/len(w)
          AS stopword_ratio FROM t""".replaceAll("\\s+", " "))),

    // Gopher-style composite quality gate (Rae et al. 2021): per-rule
    // flags + the conjunction verdict. Thresholds tuned to the fixture
    // corpus so EVERY rule fires on some docs (non-vacuous: at sf0.01
    // the four rules pass 394/487/427/338 of 500, keep = 311). Flags
    // compare exact integers or single-divide doubles — hash-safe
    // unrounded.
    "text_gopher_rules" -> QueryDef(
      (s, dir) => TextAnalysis.gopherRules(docs(s, dir), "doc_id",
        "text", Stopwords, minWords = 30, maxWords = 1000,
        minAvgLen = 4.0, maxAvgLen = 5.0, maxTopWordFrac = 0.105,
        minStopHits = 4),
      Some(s"""WITH $WordsCte,
        base AS (SELECT doc_id, len(w)::BIGINT AS n_words,
          (list_reduce(list_transform(w, x -> strlen(x)::BIGINT),
            (a,b) -> a+b))::DOUBLE / len(w) AS mwl,
          len(list_filter(w, x -> list_contains(
            [${Stopwords.map("'" + _ + "'").mkString(",")}], x)))::BIGINT
            AS stop_hits FROM words),
        uw AS (SELECT doc_id, unnest(w) AS wd FROM words),
        wc AS (SELECT doc_id, wd, count(*) AS c FROM uw GROUP BY 1, 2),
        tf AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS twf
          FROM wc GROUP BY 1)
        SELECT base.doc_id AS id, n_words, mwl AS mean_word_len,
          stop_hits, twf AS top_word_frac,
          (n_words >= 30 AND n_words <= 1000) AS ok_word_count,
          (mwl >= 4.0 AND mwl <= 5.0) AS ok_word_len,
          (stop_hits >= 4) AS ok_stopwords,
          (twf <= 0.105) AS ok_repetition,
          (n_words >= 30 AND n_words <= 1000 AND mwl >= 4.0
            AND mwl <= 5.0 AND stop_hits >= 4 AND twf <= 0.105) AS keep
        FROM base JOIN tf ON base.doc_id = tf.doc_id"""
        .replaceAll("\\s+", " "))),

    // out-of-vocabulary rate vs the corpus's own top-K vocabulary
    // (tokenizer-coverage check). K=20 < the fixture's 31 distinct
    // words, so OOV is non-vacuous (499/500 docs have OOV words at
    // sf0.01). Vocabulary ranked count DESC, word ASC on both sides —
    // boundary ties deterministic.
    "text_oov_rate" -> QueryDef(
      (s, dir) => TextAnalysis.oovRate(docs(s, dir), "doc_id", "text",
        vocabSize = 20),
      Some(s"""WITH $WordsCte,
        uw AS (SELECT doc_id, unnest(w) AS wd FROM words),
        vocab AS (SELECT wd FROM (SELECT wd, count(*) AS c FROM uw
          GROUP BY 1) ORDER BY c DESC, wd LIMIT 20)
        SELECT doc_id AS id, count(*)::BIGINT AS n_words,
          sum(CASE WHEN vocab.wd IS NULL THEN 1 ELSE 0 END)::BIGINT
            AS oov_words,
          sum(CASE WHEN vocab.wd IS NULL THEN 1 ELSE 0 END)::DOUBLE
            / count(*) AS oov_frac
        FROM uw LEFT JOIN vocab ON uw.wd = vocab.wd GROUP BY 1"""
        .replaceAll("\\s+", " "))),

    // cross-document n-gram overlap (corpus-level memorization /
    // boilerplate signal; repetition is within-doc, decontamination is
    // vs held-out — this is corpus-vs-itself).
    "text_crossdoc_ngram_frac" -> QueryDef(
      (s, dir) => TextAnalysis.crossDocNgramFrac(docs(s, dir), "doc_id",
        "text", ShingleLen),
      Some(s"""WITH $WordsCte, $ShingleCte,
        g AS (SELECT DISTINCT doc_id,
          ('0x'||substr(md5(s),1,15))::BIGINT AS g FROM shingle),
        dfreq AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
        SELECT g.doc_id AS id, count(*)::BIGINT AS n_grams,
          sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT
            AS shared_grams,
          sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
            AS shared_frac
        FROM g JOIN dfreq ON g.g = dfreq.g GROUP BY 1"""
        .replaceAll("\\s+", " "))),

    // interpolated bigram LM quality score (context-aware rung above
    // text_unigram_logprob). λ=0.75 so BOTH λ and 1−λ are float-exact
    // literals on engine and oracle sides (0.7 would make 1−λ the
    // Scala double 0.30000000000000004 vs the SQL literal 0.3).
    "text_bigram_logprob" -> QueryDef(
      (s, dir) => Curation.bigramLogProb(docs(s, dir), "doc_id", "text",
        lambda = 0.75),
      Some(s"""WITH $WordsCte,
        bg AS (SELECT doc_id, unnest(list_transform(
          generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])) AS b
          FROM words),
        cab AS (SELECT b, count(*) AS c_ab FROM bg GROUP BY 1),
        uw AS (SELECT unnest(w) AS wd FROM words),
        cu AS (SELECT wd, count(*) AS c FROM uw GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM uw)
        SELECT bg.doc_id AS id, count(*)::BIGINT AS n_bigrams,
          round(avg(ln(0.75 * (c_ab::DOUBLE / a.c)
            + 0.25 * (b2.c::DOUBLE / total))), 6) AS avg_logprob_r
        FROM bg JOIN cab ON bg.b = cab.b
          JOIN cu a ON a.wd = string_split(bg.b, ' ')[1]
          JOIN cu b2 ON b2.wd = string_split(bg.b, ' ')[2], tot
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // sliding-window document chunking (context-window preprocessing;
    // 32-word chunks, 8-word overlap ⇒ stride 24 — fixture docs of
    // 10..99 words yield 1..4 chunks, short final chunks included).
    "pipeline_chunk_docs" -> QueryDef(
      (s, dir) => Curation.chunkDocuments(docs(s, dir), "doc_id",
        "text", chunkWords = 32, overlapWords = 8),
      Some(s"""WITH $WordsCte,
        n AS (SELECT doc_id, w, len(w) AS L FROM words),
        k AS (SELECT doc_id, w, L, 1 + greatest(0,
          ceil((L - 32)::DOUBLE / 24)::BIGINT) AS nc FROM n),
        e AS (SELECT doc_id, w, L,
          unnest(generate_series(1, nc)) AS i FROM k)
        SELECT doc_id AS id, i::BIGINT AS chunk_idx,
          array_to_string(list_slice(w, (i-1)*24 + 1,
            least((i-1)*24 + 32, L)), ' ') AS chunk_text,
          len(list_slice(w, (i-1)*24 + 1,
            least((i-1)*24 + 32, L)))::BIGINT AS n_words
        FROM e""".replaceAll("\\s+", " "))),

    // cross-document repeated-SPAN removal (span-level dedup, Lee et
    // al.) — 4-word spans repeated in >= 2 docs are cut and the doc
    // rewritten from the survivors. n=4/minDocs=2 chosen non-vacuous
    // against the fixture: 368/500 docs partially covered, 24 fully
    // covered (the planted exact duplicates -> clean_text = ''), 132
    // untouched — every branch of the operator exercises. The oracle
    // dedups on gram STRINGS where the engine joins 60-bit hashes
    // (equivalent modulo md5 collisions).
    // maximal CROSS-document repeated spans (the exact-substring dedup
    // family): one all-integer row per (doc pair, alignment) — where
    // the shared run starts in each doc and its token length, n-gram
    // anchors merged along the alignment diagonal (gaps-and-islands).
    // Complements dedup_repeated_spans (per-doc covered mass only).
    "dedup_cross_spans" -> QueryDef(
      (s, dir) => Curation.crossDocSpans(docs(s, dir), "doc_id",
        "text", n = 6),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a
          FROM documents WHERE text IS NOT NULL),
        g AS (SELECT doc_id, p - 1 AS p,
          array_to_string(a[p:p+5], ' ') AS gram
          FROM arr, unnest(generate_series(1, len(a)-5)) AS t(p)),
        m AS (SELECT g1.doc_id AS id_a, g2.doc_id AS id_b,
          g1.p AS pa, g2.p AS pb
          FROM g g1 JOIN g g2 ON g1.gram = g2.gram
          AND g1.doc_id < g2.doc_id),
        i AS (SELECT id_a, id_b, pa, pb, pa - pb AS diag,
          pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
            ORDER BY pa) AS isl FROM m)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
          min(pa)::BIGINT AS pos_a, min(pb)::BIGINT AS pos_b,
          (max(pa) - min(pa) + 6)::BIGINT AS len_tokens
        FROM i GROUP BY id_a, id_b, diag, isl"""
        .replaceAll("\\s+", " "))),

    "dedup_repeated_spans" -> QueryDef(
      (s, dir) => Curation.removeRepeatedSpans(docs(s, dir), "doc_id",
        "text", n = 4, minDocs = 2),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a
          FROM documents WHERE text IS NOT NULL),
        win AS (SELECT doc_id, p, array_to_string(a[p:p+3], ' ') AS gram
          FROM arr, unnest(generate_series(1, len(a)-3)) AS t(p)),
        dup AS (SELECT gram FROM
          (SELECT DISTINCT doc_id, gram FROM win)
          GROUP BY gram HAVING count(*) >= 2),
        cov AS (SELECT DISTINCT w.doc_id, t.pos
          FROM win w JOIN dup USING (gram),
          unnest(generate_series(w.p, w.p+3)) AS t(pos)),
        covn AS (SELECT doc_id, count(*) AS dup_tokens FROM cov
          GROUP BY doc_id),
        tok AS (SELECT doc_id, i, a[i] AS wd FROM arr,
          unnest(generate_series(1, len(a))) AS t(i)),
        kept AS (SELECT t.doc_id,
          string_agg(t.wd, ' ' ORDER BY t.i) AS ct
          FROM tok t LEFT JOIN cov c
          ON t.doc_id = c.doc_id AND t.i = c.pos
          WHERE c.pos IS NULL GROUP BY t.doc_id)
        SELECT arr.doc_id AS id, len(arr.a)::BIGINT AS n_tokens,
          coalesce(covn.dup_tokens, 0)::BIGINT AS dup_tokens,
          coalesce(covn.dup_tokens, 0)::DOUBLE / len(arr.a)::DOUBLE
            AS dup_frac,
          coalesce(kept.ct, '') AS clean_text
        FROM arr LEFT JOIN covn USING (doc_id)
        LEFT JOIN kept USING (doc_id)""".replaceAll("\\s+", " "))),

    // temperature-scaled source mixing weights (token-count based:
    // doc counts are uniform across the fixture's sources, token sums
    // are not — non-vacuous weights).
    "pipeline_temperature_weights" -> QueryDef(
      (s, dir) => TextAnalysis.temperatureWeights(docs(s, dir),
        "source", "text", alpha = 0.7),
      Some("""WITH c AS (SELECT source AS stratum,
          sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
          FROM documents GROUP BY 1)
        SELECT stratum, n_tokens,
          round(pow(n_tokens, 0.7) / sum(pow(n_tokens, 0.7)) OVER (), 6)
            AS weight_r
        FROM c""".replaceAll("\\s+", " "))),

    // temperature mixing weights budgeted in TOKENIZER tokens — the
    // same strata-sized softmax as pipeline_temperature_weights, in the
    // unit a real mix is planned in (VERDICT r8: budgets should count
    // tokens, not whitespace words).
    "pipeline_temperature_tokens" -> QueryDef(
      (s, dir) => TextAnalysis.temperatureWeights(docs(s, dir),
        "source", "text", alpha = 0.7,
        tokenCounter = TextAnalysis.tokenizerTokens),
      Some(s"""WITH c AS (SELECT source AS stratum,
          sum(coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0))::BIGINT AS n_tokens
          FROM documents GROUP BY 1)
        SELECT stratum, n_tokens,
          round(pow(n_tokens, 0.7) / sum(pow(n_tokens, 0.7)) OVER (), 6)
            AS weight_r
        FROM c""".replaceAll("\\s+", " "))),

    // heuristic language ID (marker-word argmax, deterministic ties).
    "text_langid" -> QueryDef(
      (s, dir) => TextAnalysis
        .langId(docs(s, dir), "doc_id", "text", LangMarkers)
        .select(col("id"), col("pred_lang"), col("score").cast("long")
          .as("score")),
      Some {
        val langs = LangMarkers.keys.toSeq.sorted
        val scoreCols = langs.map { l =>
          val ms = LangMarkers(l).map("'" + _ + "'").mkString(",")
          s"len(list_filter(w, x -> list_contains([$ms], x)))::BIGINT AS s_$l"
        }.mkString(", ")
        val langList = langs.map("'" + _ + "'").mkString(",")
        val scoreList = langs.map(l => s"s_$l").mkString(",")
        s"""WITH $WordsCte,
          s AS (SELECT doc_id, $scoreCols FROM words),
          u AS (SELECT doc_id, unnest([$langList]) AS lang,
            unnest([$scoreList]) AS score FROM s),
          r AS (SELECT doc_id, lang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
            FROM u)
          SELECT doc_id AS id, lang AS pred_lang, score FROM r
          WHERE rn = 1""".replaceAll("\\s+", " ")
      }),

    // language-ID EVALUATION: the langid heuristic's confusion matrix
    // against the labeled lang column — per (true, predicted) counts,
    // the accuracy-audit layer over text_langid (a classifier without
    // an eval is a rumor). Reuses the identical scoring chain.
    "text_langid_eval" -> QueryDef(
      (s, dir) => TextAnalysis
        .langId(docs(s, dir), "doc_id", "text", LangMarkers)
        .join(docs(s, dir).select(col("doc_id").as("id"),
          col("lang")), "id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n")),
      Some {
        val langs = LangMarkers.keys.toSeq.sorted
        val scoreCols = langs.map { l =>
          val ms = LangMarkers(l).map("'" + _ + "'").mkString(",")
          s"len(list_filter(w, x -> list_contains([$ms], x)))::BIGINT AS s_$l"
        }.mkString(", ")
        val langList = langs.map("'" + _ + "'").mkString(",")
        val scoreList = langs.map(l => s"s_$l").mkString(",")
        s"""WITH $WordsCte,
          s AS (SELECT doc_id, $scoreCols FROM words),
          u AS (SELECT doc_id, unnest([$langList]) AS plang,
            unnest([$scoreList]) AS score FROM s),
          r AS (SELECT doc_id, plang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, plang DESC) AS rn
            FROM u)
          SELECT d.lang, r.plang AS pred_lang, count(*)::BIGINT AS n
          FROM r JOIN documents d ON d.doc_id = r.doc_id
          WHERE r.rn = 1 GROUP BY 1, 2""".replaceAll("\\s+", " ")
      }),

    // token counting (whitespace + 4-chars-per-token BPE-ish estimate).
    "text_tokens" -> QueryDef(
      (s, dir) => TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text"),
      Some(s"""WITH $WordsCte
        SELECT doc_id AS id, len(w)::BIGINT AS ws_tokens,
        list_sum(list_transform(w, x -> (length(x)+3)//4))::BIGINT
          AS bpe_tokens FROM words""".replaceAll("\\s+", " "))),

    // document fingerprints (content / 64-bit prefix / bag-of-words).
    "text_fingerprint" -> QueryDef(
      (s, dir) => TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id AS id, md5(text) AS content_md5,
        substr(md5(text),1,16) AS fp64,
        md5(array_to_string(list_sort(string_split(text,' ')), ' '))
          AS bag_md5 FROM documents""".replaceAll("\\s+", " "))),

    // the composed pipeline: training-set selection = quality thresholds
    // ∧ language filter ∧ exact-dedup representative — the operators
    // above chained the way a real corpus build chains them. Each input
    // is a groupBy/join over (id, smallcols); document bodies are read
    // once and never shuffled.
    "pipeline_training_set" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        // single-pass profile: quality + language in ONE projection —
        // no self-join of the documents table (see TextAnalysis.profile)
        val p = TextAnalysis.profile(d, "doc_id", "text", Stopwords,
          LangMarkers)
        val keep = Dedup.exact(d, "doc_id", "text")
          .select(col("keep_id").as("id"))
        p.join(keep, "id")
          .filter(col("n_words") >= 5 && col("stopword_ratio") <= 0.4 &&
            col("pred_lang") === "en")
          .select(col("id"), col("n_words"), col("stopword_ratio"),
            col("pred_lang"))
      },
      Some {
        val langs = LangMarkers.keys.toSeq.sorted
        val scoreCols = langs.map { l =>
          val ms = LangMarkers(l).map("'" + _ + "'").mkString(",")
          s"len(list_filter(w, x -> list_contains([$ms], x)))::BIGINT AS s_$l"
        }.mkString(", ")
        val langList = langs.map("'" + _ + "'").mkString(",")
        val scoreList = langs.map(l => s"s_$l").mkString(",")
        s"""WITH $WordsCte,
          t AS (SELECT d.doc_id, d.text, words.w FROM documents d
                JOIN words ON d.doc_id=words.doc_id),
          q AS (SELECT doc_id, len(w)::BIGINT AS n_words,
            len(list_filter(w, x -> list_contains(
              [${Stopwords.map("'" + _ + "'").mkString(",")}], x)))/len(w)
              AS stopword_ratio FROM t),
          s AS (SELECT doc_id, $scoreCols FROM words),
          u AS (SELECT doc_id, unnest([$langList]) AS lang,
            unnest([$scoreList]) AS score FROM s),
          r AS (SELECT doc_id, lang, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
            FROM u),
          lid AS (SELECT doc_id, lang AS pred_lang FROM r WHERE rn = 1),
          keep AS (SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY text)
          SELECT q.doc_id AS id, n_words, stopword_ratio, pred_lang
          FROM q JOIN lid ON q.doc_id=lid.doc_id
          JOIN keep ON q.doc_id=keep.doc_id
          WHERE n_words >= 5 AND stopword_ratio <= 0.4
            AND pred_lang='en'""".replaceAll("\\s+", " ")
      }),

    // corpus vocabulary profile: top-20 word bigrams by frequency,
    // deterministic ties — the "most common n-grams" sweep every corpus
    // audit runs. explode → partial/final count agg → TakeOrdered; the
    // hot-key risk of a dominant bigram is exactly what SkewJoin's
    // salted two-phase agg addresses at 100 TB.
    "text_top_ngrams" -> QueryDef(
      (s, dir) => Tables.fanOutForKernel(docs(s, dir))
        .select(explode(Dedup.shingles(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20),
      Some(s"""WITH $WordsCte,
        sh2 AS (SELECT unnest(list_transform(
          generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])) AS s
          FROM words)
        SELECT s AS ngram, count(*)::BIGINT AS n FROM sh2
        GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20"""
        .replaceAll("\\s+", " "))),

    // SpaceSaving heavy hitters over the corpus word stream — the
    // BOUNDED-memory twin of text_top_ngrams' exact group-by: at 100 TB
    // the exact form shuffles one row per distinct key (unbounded); the
    // sketch shuffles `capacity` counters per input partition, period.
    // Run here in EXACT mode (capacity 256 ≫ the corpus's vocabulary),
    // where counts are exact, errors are 0, and the result is
    // partitioning-independent — hence oracle-able against the exact
    // counts; the saturated-mode error bound and frequent-items
    // guarantee are pinned in HeavyHittersSpec.
    "text_heavy_hitters" -> QueryDef(
      (s, dir) => docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(HeavyHitters.spaceSaving(capacity = 256, k = 10)(col("w"))
          .as("hh"))
        .select(posexplode(col("hh.items")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.key").as("word"), col("col.cnt").as("n"),
          col("col.err").as("err")),
      Some(s"""WITH $WordsCte,
        u AS (SELECT unnest(w) AS word FROM words),
        c AS (SELECT word, count(*)::BIGINT AS n FROM u GROUP BY 1)
        SELECT row_number() OVER (ORDER BY n DESC, word)::BIGINT AS rank,
          word, n, 0::BIGINT AS err
        FROM c ORDER BY n DESC, word LIMIT 10"""
        .replaceAll("\\s+", " "))),

    // leakage-safe split: hash the duplicate-CLUSTER label, not the
    // doc id, so every member of a near-dup cluster lands in the SAME
    // train/validation/test split — the doc-id split (pipeline_split)
    // leaks near-duplicates of training docs into validation, the
    // classic eval-inflation failure. Shares the recursive cluster
    // oracle CTEs and the basis-point splitBucket convention, so
    // neither the clustering nor the split can drift from their
    // stand-alone queries.
    "pipeline_leakage_safe_split" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
          .select(col("id_a"), col("id_b"))
        Dedup.dupClusters(d, "doc_id", pairs, shortcut = false)
          .withColumn("bucket", splitBucket(col("cluster")))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "validation")
              .otherwise("test"))
      },
      Some(s"""WITH RECURSIVE $ClusterReachCtes,
        cl AS (SELECT id, min(label)::BIGINT AS cluster FROM reach
          GROUP BY id)
        SELECT id, cluster,
          ('0x'||substr(md5(cluster::VARCHAR),1,15))::BIGINT % 100
            AS bucket,
          CASE WHEN ('0x'||substr(md5(cluster::VARCHAR),1,15))::BIGINT
                 % 100 < 80 THEN 'train'
               WHEN ('0x'||substr(md5(cluster::VARCHAR),1,15))::BIGINT
                 % 100 < 90 THEN 'validation'
               ELSE 'test' END AS split
        FROM cl""".replaceAll("\\s+", " "))),

    // per-source n-gram diversity — distinct bigrams over total
    // bigrams in exact basis points: the Self-BLEU-style repetition
    // gauge per corpus source (a template-farm source scores low).
    // One explode + two map-side-combined aggregates.
    "text_diversity" -> QueryDef(
      // two-phase distinct (groupBy the pair, then count the groups)
      // instead of count(DISTINCT)+count in one agg — the single-agg
      // form plans an Expand that doubles every bigram row before a
      // SortAggregate (the stats_column_profile lesson)
      (s, dir) => Tables.fanOutForKernel(docs(s, dir))
        .select(col("source"),
          explode(Dedup.shingles(col("text"), 2)).as("g"))
        .groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("n_g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("uniq_bigrams"),
          sum(col("n_g")).as("total_bigrams"))
        .select(col("source"), col("uniq_bigrams"),
          col("total_bigrams"),
          expr("(uniq_bigrams * 10000) div total_bigrams")
            .as("diversity_bp")),
      Some("""WITH ws AS (SELECT source, string_split(text, ' ') AS w
          FROM documents),
        sh AS (SELECT source, unnest(list_transform(
          generate_series(1, len(w) - 1), i -> w[i]||' '||w[i+1])) AS g
          FROM ws),
        a AS (SELECT source, count(DISTINCT g)::BIGINT AS uniq_bigrams,
          count(*)::BIGINT AS total_bigrams FROM sh GROUP BY 1)
        SELECT source, uniq_bigrams, total_bigrams,
          ((uniq_bigrams * 10000) // total_bigrams)::BIGINT
            AS diversity_bp
        FROM a""".replaceAll("\\s+", " "))),

    // inverted-index postings — the retrieval build step: one row per
    // (term, doc) with tf and the 1-based first position. DuckDB's
    // zipped unnest(generate_series) supplies the oracle positions.
    "text_postings" -> QueryDef(
      (s, dir) => TextAnalysis.postings(docs(s, dir), "doc_id", "text"),
      Some(s"""WITH $WordsCte,
        p AS (SELECT doc_id, unnest(w) AS word,
          unnest(generate_series(1, len(w))) AS pos FROM words)
        SELECT word, doc_id AS id, count(*)::BIGINT AS tf,
          min(pos)::BIGINT AS first_pos FROM p GROUP BY 1, 2"""
        .replaceAll("\\s+", " "))),

    // Okapi BM25 top-k for a fixed query — retrieval scoring over the
    // postings shapes: token stream filtered to query terms BEFORE
    // any shuffle, df/corpus scalars broadcast, per-doc score summed
    // in fixed term order (pivot columns, not sum()) so the only
    // cross-engine wiggle is ln()'s last ulp, absorbed by round(4).
    "text_bm25_topk" -> QueryDef(
      (s, dir) => TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window"), k = 20),
      Some(s"""WITH $WordsCte,
        dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM words),
        st AS (SELECT count(*)::BIGINT AS n_docs,
          sum(dl)::BIGINT AS sum_dl FROM dl),
        tok AS (SELECT doc_id, unnest(w) AS word FROM words),
        tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM tok
          WHERE word IN ('spark', 'join', 'window') GROUP BY 1, 2),
        dft AS (SELECT word, count(DISTINCT doc_id)::BIGINT AS dft
          FROM tok WHERE word IN ('spark', 'join', 'window')
          GROUP BY 1),
        sc AS (SELECT tf.doc_id, tf.word,
          ln(1.0 + (st.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)) *
            (tf.tf * 2.2) /
            (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
              (st.sum_dl / st.n_docs))) AS s
          FROM tf JOIN dft USING (word) JOIN dl USING (doc_id)
          CROSS JOIN st),
        ag AS (SELECT doc_id,
            coalesce(max(CASE WHEN word = 'spark' THEN s END), 0)
          + coalesce(max(CASE WHEN word = 'join' THEN s END), 0)
          + coalesce(max(CASE WHEN word = 'window' THEN s END), 0)
            AS raw
          FROM sc GROUP BY 1)
        SELECT doc_id, round(raw, 4) AS score FROM ag
        ORDER BY score DESC, doc_id LIMIT 20"""
        .replaceAll("\\s+", " "))),

    // pairwise KS drift MATRIX across every source's document-length
    // distribution — the all-pairs stats_ks_test ("which sources
    // diverged from which"), the screen run before trusting
    // per-source mixing weights. One (source, length) corpus pass;
    // the zero-filled source×domain grid carries partitioned CDF
    // windows and the pair expansion equi-joins the grid on the
    // value (|domain|·k² rows, never corpus-sized); D stays the
    // exact cross-multiplied integer until one rounded division.
    "stats_ks_matrix" -> QueryDef(
      (s, dir) => Profiling.ksMatrix(
        docs(s, dir).select(col("source"), col("n_chars")),
        "source", "n_chars"),
      Some("""WITH f AS (SELECT source AS g, n_chars AS v,
          count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
        dom AS (SELECT DISTINCT v FROM f),
        gs AS (SELECT g, sum(c)::BIGINT AS n FROM f GROUP BY 1),
        grid AS (SELECT gs.g, gs.n, dom.v, coalesce(f.c, 0) AS c
          FROM gs CROSS JOIN dom
          LEFT JOIN f ON f.g = gs.g AND f.v = dom.v),
        cm AS (SELECT g, n, v,
          sum(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM grid)
        SELECT a.g AS g_a, b.g AS g_b, a.n::BIGINT AS n_a,
          b.n::BIGINT AS n_b,
          max(abs(a.cum * b.n - b.cum * a.n))::BIGINT AS d_num,
          round(max(abs(a.cum * b.n - b.cum * a.n))::DOUBLE /
            (a.n * b.n)::DOUBLE, 6) AS d_r
        FROM cm a JOIN cm b ON a.v = b.v AND a.g < b.g
        GROUP BY a.g, b.g, a.n, b.n""".replaceAll("\\s+", " "))),

    // χ² association audit between two metadata columns (lang ×
    // source) + Cramér's V — "is language independent of source?" is
    // the metadata-bias check a corpus audit runs before stratified
    // sampling trusts either column. Everything past the one
    // (lang, source) groupBy runs on the contingency frame (r·c
    // cells); expected counts use double arithmetic in one shared
    // operand order, χ² is rounded (multi-cell sum), and V is derived
    // FROM the rounded χ² so both engines take the sqrt of an
    // identical double.
    "stats_chi2_assoc" -> QueryDef(
      (s, dir) => {
        val o = docs(s, dir).groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_ls"))
        val r = o.groupBy(col("lang")).agg(sum(col("n_ls")).as("n_l"))
        val c = o.groupBy(col("source")).agg(sum(col("n_ls")).as("n_s"))
        val tot = o.agg(sum(col("n_ls")).as("n"),
          countDistinct(col("lang")).as("r_cnt"),
          countDistinct(col("source")).as("c_cnt"))
        val e = col("n_l").cast("double") * col("n_s") / col("n")
        o.join(r, "lang").join(c, "source").crossJoin(broadcast(tot))
          .groupBy(col("n"), col("r_cnt"), col("c_cnt"))
          .agg(round(sum((col("n_ls") - e) * (col("n_ls") - e) / e), 4)
            .as("chi2"))
          .select(col("n"),
            ((col("r_cnt") - 1) * (col("c_cnt") - 1)).as("dof"),
            col("chi2"),
            round(sqrt(col("chi2") /
              (col("n") * least(col("r_cnt") - 1, col("c_cnt") - 1))),
              4).as("cramers_v"))
      },
      Some("""WITH o AS (SELECT lang, source, count(*)::BIGINT AS n_ls
          FROM documents GROUP BY 1, 2),
        r AS (SELECT lang, sum(n_ls)::BIGINT AS n_l FROM o GROUP BY 1),
        c AS (SELECT source, sum(n_ls)::BIGINT AS n_s FROM o
          GROUP BY 1),
        t AS (SELECT sum(n_ls)::BIGINT AS n,
          count(DISTINCT lang)::BIGINT AS r_cnt,
          count(DISTINCT source)::BIGINT AS c_cnt FROM o),
        x AS (SELECT t.n, t.r_cnt, t.c_cnt,
          round(sum((o.n_ls - (r.n_l::DOUBLE * c.n_s / t.n))
            * (o.n_ls - (r.n_l::DOUBLE * c.n_s / t.n))
            / (r.n_l::DOUBLE * c.n_s / t.n)), 4) AS chi2
          FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
          GROUP BY 1, 2, 3)
        SELECT n, (r_cnt - 1) * (c_cnt - 1) AS dof, chi2,
          round(sqrt(chi2 / (n * least(r_cnt - 1, c_cnt - 1))), 4)
            AS cramers_v
        FROM x""".replaceAll("\\s+", " "))),

    // Zipf rank–frequency slope — the corpus-health profile (natural
    // token streams sit near −1; template spam / tokenizer damage
    // shows up as a slope far off). Corpus touched once; the OLS runs
    // on the vocabulary-bounded frequency frame. The slope is a
    // multi-row double aggregate → rounded on both sides; Spark uses
    // the closed-form OLS sums, DuckDB its regr_slope — algebraically
    // identical, equal after round(3).
    "text_zipf_slope" -> QueryDef(
      (s, dir) => Profiling.zipfSlope(
        docs(s, dir).select(explode(split(col("text"), " ")).as("w")),
        "w"),
      Some(s"""WITH $WordsCte,
        u AS (SELECT unnest(w) AS word FROM words),
        f AS (SELECT word, count(*)::BIGINT AS n FROM u GROUP BY 1),
        r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word)
          AS rank FROM f)
        SELECT count(*)::BIGINT AS n_types, sum(n)::BIGINT AS n_tokens,
          round(regr_slope(ln(n), ln(rank)), 3) AS zipf_slope
        FROM r""".replaceAll("\\s+", " "))),

    // per-language quantile-rank normalization of document length —
    // the cross-source score calibration step (normalize THEN
    // threshold; raw per-source scores are incomparable). Exact
    // basis-point cume_dist; the CDF window runs on the value-domain
    // frequency frame only (allowlisted discipline).
    "pipeline_quantile_norm" -> QueryDef(
      (s, dir) => Curation.quantileNormalize(
        docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")),
        Seq("lang"), "n_chars"),
      Some("""WITH f AS (SELECT lang, n_chars, count(*)::BIGINT AS c
          FROM documents GROUP BY 1, 2),
        cu AS (SELECT lang, n_chars, c,
          sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
          sum(c) OVER (PARTITION BY lang) AS n FROM f)
        SELECT d.doc_id, d.lang, d.n_chars,
          ((cu.cum * 10000) // cu.n)::BIGINT AS rank_bp
        FROM documents d JOIN cu ON d.lang = cu.lang
          AND d.n_chars = cu.n_chars""".replaceAll("\\s+", " "))),

    // per-source Shannon word entropy — the corpus-health twin of the
    // Zipf slope (near-zero = template spam / constant-field damage,
    // anomalously high = binary junk). Corpus touched once; H runs on
    // the vocabulary-bounded frequency frame; Σ c·ln c is a multi-row
    // double aggregate → rounded 6 both sides.
    "text_entropy" -> QueryDef(
      (s, dir) => Profiling.entropyBy(
        docs(s, dir).select(col("source"),
          explode(split(col("text"), " ")).as("w")),
        Seq("source"), "w"),
      Some("""WITH u AS (SELECT source,
          unnest(string_split(text, ' ')) AS w FROM documents),
        f AS (SELECT source, w, count(*)::BIGINT AS c FROM u
          GROUP BY 1, 2)
        SELECT source, count(*)::BIGINT AS n_types,
          sum(c)::BIGINT AS n_tokens,
          round(ln(sum(c)::DOUBLE) -
            sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE, 6)
            AS entropy_nats_r
        FROM f GROUP BY 1""".replaceAll("\\s+", " "))),

    // exact per-language decile stratification of document length —
    // the quality-bucketing primitive behind "sample uniformly across
    // strata". Cut points are PERCENTILE_DISC order statistics
    // computed on the distinct-value frequency frame (winsorizedStats
    // discipline: corpus touched once, everything else domain-bounded);
    // bucket = 1 + #cuts strictly below the value, so ties stay
    // together and every output column is an exact Long.
    "pipeline_quality_deciles" -> QueryDef(
      (s, dir) => Profiling.decileStats(
        docs(s, dir).select(col("lang"), col("n_chars")),
        Seq("lang"), "n_chars"),
      Some("""WITH f AS (SELECT lang, n_chars AS v,
          count(*)::BIGINT AS n_v FROM documents GROUP BY 1, 2),
        cu AS (SELECT lang, v, n_v, sum(n_v) OVER
          (PARTITION BY lang ORDER BY v) AS cum FROM f),
        t AS (SELECT lang, sum(n_v)::BIGINT AS n FROM f GROUP BY 1),
        tg AS (SELECT lang, p, (p * n + 9) // 10 AS kp FROM t,
          unnest(generate_series(1, 9)) AS g(p)),
        cuts AS (SELECT cu.lang, tg.p, min(cu.v) AS cut FROM cu
          JOIN tg ON cu.lang = tg.lang AND cu.cum >= tg.kp
          GROUP BY 1, 2),
        b AS (SELECT f.lang, f.v, max(f.n_v) AS n_v,
          (1 + sum(CASE WHEN f.v > cuts.cut THEN 1 ELSE 0 END))::BIGINT
            AS bucket
          FROM f JOIN cuts ON f.lang = cuts.lang GROUP BY 1, 2)
        SELECT lang, bucket, sum(n_v)::BIGINT AS n_rows,
          min(v) AS min_v, max(v) AS max_v,
          sum(n_v * v)::BIGINT AS sum_v
        FROM b GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // deterministic corpus split: md5-bucket each doc into
    // train/validation/test (80/10/10). Hash-based splits are the
    // training-pipeline standard because they are STABLE — re-running
    // over a grown corpus never reshuffles old docs across splits (a
    // random() split would leak val into train on every rebuild). Pure
    // projection, embarrassingly parallel, same md5-prefix convention
    // as the dedup family so the oracle is bit-exact.
    "pipeline_split" -> QueryDef(
      (s, dir) => docs(s, dir)
        .select(col("doc_id").as("id"),
          splitBucket(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation")
            .otherwise("test")),
      Some("""SELECT doc_id AS id,
        ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bucket,
        CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100
               < 80 THEN 'train'
             WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100
               < 90 THEN 'validation'
             ELSE 'test' END AS split
        FROM documents""".replaceAll("\\s+", " "))),

    // deterministic global shuffle + balanced shard assignment — the
    // pre-training ordering step: md5(id:seed) ordering key (engine
    // RNG sequences are partitioning-dependent; a hash is not),
    // shard = key mod 16, pos = write position within the shard.
    // deterministic hash-Bernoulli sample at 1/10: verdict is a pure
    // function of (doc_id, seed) — reproducible across runs/engines
    // (oracle replays the identical md5 threshold), thresholds nest
    // for sub-sampling without rehash. Pure filter: zero exchanges.
    // Length-weighted PPS draw over documents: keep-probability
    // n_chars/600 (capped at 1) via the exact integer test
    // h div K < n_chars with K = 2^60/600 — "sample tokens, not
    // documents". Zero-exchange filter; DuckDB reproduces the division
    // bit-for-bit.
    "pipeline_pps_sample" -> QueryDef(
      (s, dir) => Curation.ppsSample(
        docs(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", seed = "r8w",
        perUnitThreshold = (1L << 60) / 600L),
      Some(s"""SELECT doc_id, source, n_chars,
        ('0x'||substr(md5(doc_id::VARCHAR || ':r8w'),1,15))::BIGINT
          AS pps_key
        FROM documents
        WHERE ('0x'||substr(md5(doc_id::VARCHAR || ':r8w'),1,15))::BIGINT
          // ${(1L << 60) / 600L} < n_chars"""
        .replaceAll("\\s+", " "))),

    // Per-source contribution cap (10 of each source's 25 docs at
    // sf0.01): deterministic hash-ordered quota via the bounded-heap
    // TopKAgg — partial aggregation caps each map partition's
    // contribution, so a hot key never funnels its population into one
    // reducer sort the way the row_number window form would.
    "pipeline_source_cap" -> QueryDef(
      (s, dir) => Curation.capPerKey(docs(s, dir),
        "doc_id", "source", seed = "r8c", maxPerKey = 10),
      Some("""SELECT source, doc_id, cap_rank FROM (
          SELECT source, doc_id, row_number() OVER (PARTITION BY source
            ORDER BY ('0x'||substr(md5(source || '#' || doc_id::VARCHAR
              || ':r8c'),1,13))::BIGINT, doc_id) AS cap_rank
          FROM documents)
        WHERE cap_rank <= 10""".replaceAll("\\s+", " "))),

    // EXACT stratified 10% holdout: global val count = floor(n/10)
    // EXACTLY, apportioned across sources by largest remainder
    // (tokenQuota), selection = smallest salted hashes within
    // (source, shard) cells — deterministic and auditable row by row,
    // where hash-Bernoulli only approximates the proportions. The
    // oracle replays the full two-level apportionment + hash ranking.
    "pipeline_stratified_split" -> QueryDef(
      (s, dir) => Curation.stratifiedSplit(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", seed = "sp10", valBp = 1000L,
        shards = 16),
      Some("""WITH b2 AS (SELECT source AS g, doc_id AS id, hk,
          hk % 16 AS shard FROM (SELECT source, doc_id,
            ('0x'||substr(md5(source || '#' || doc_id::VARCHAR
              || ':sp10'),1,13))::BIGINT AS hk FROM documents)),
        cells AS (SELECT g, shard, count(*)::BIGINT AS c FROM b2
          GROUP BY 1, 2),
        st AS (SELECT g, sum(c)::BIGINT AS n_g FROM cells GROUP BY 1),
        bud AS (SELECT sum(n_g)::BIGINT AS n,
          (sum(n_g) * 1000) // 10000 AS budget FROM st),
        q1 AS (SELECT g, n_g, (budget * n_g) // n AS fq,
          (budget * n_g) % n AS rem, budget FROM st CROSS JOIN bud),
        q1r AS (SELECT g, fq, budget,
          row_number() OVER (ORDER BY rem DESC, g) AS rk,
          sum(fq) OVER () AS sfq FROM q1),
        quo AS (SELECT g, (fq + CASE WHEN rk <= budget - sfq
          THEN 1 ELSE 0 END)::BIGINT AS q_g FROM q1r),
        c1 AS (SELECT cells.g, shard, c, n_g, q_g,
          (q_g * c) // n_g AS fs, (q_g * c) % n_g AS rem
          FROM cells JOIN st USING (g) JOIN quo USING (g)),
        c1r AS (SELECT g, shard, fs, q_g,
          row_number() OVER (PARTITION BY g
            ORDER BY rem DESC, shard) AS rk,
          sum(fs) OVER (PARTITION BY g) AS sfs FROM c1),
        cq AS (SELECT g, shard, (fs + CASE WHEN rk <= q_g - sfs
          THEN 1 ELSE 0 END)::BIGINT AS q_cell FROM c1r),
        sel AS (SELECT b2.g, b2.id, b2.shard, b2.hk, cq.q_cell,
          row_number() OVER (PARTITION BY b2.g, b2.shard
            ORDER BY b2.hk, b2.id) AS rn
          FROM b2 JOIN cq ON b2.g = cq.g AND b2.shard = cq.shard)
        SELECT g AS source, id AS doc_id, shard::BIGINT AS shard, hk,
          CASE WHEN rn <= q_cell THEN 'val' ELSE 'train' END AS split
        FROM sel""".replaceAll("\\s+", " "))),

    // curriculum ordering: a contiguous global 0..n−1 training order
    // (short/easy length bands first, hash-shuffled within a band)
    // WITHOUT a global sort — per-(band, shard) counts cumulate into
    // start offsets on the bounded cell frame and each doc's index is
    // cell offset + within-cell hash rank (the packSequences
    // two-level prefix-sum discipline). The oracle replays the exact
    // offsets + ranks.
    "pipeline_curriculum_order" -> QueryDef(
      (s, dir) => Curation.globalOrderIndex(
        docs(s, dir).select(col("doc_id"),
          expr("n_chars div 100").as("band")),
        "doc_id", "band", seed = "cur1", shards = 16),
      Some("""WITH b2 AS (SELECT doc_id AS id,
          n_chars // 100 AS bucket, hk, hk % 16 AS shard
          FROM (SELECT doc_id, n_chars,
            ('0x'||substr(md5(doc_id::VARCHAR || ':cur1'),1,13))
              ::BIGINT AS hk FROM documents)),
        cells AS (SELECT bucket, shard, count(*)::BIGINT AS c
          FROM b2 GROUP BY 1, 2),
        off AS (SELECT bucket, shard, sum(c) OVER (ORDER BY bucket,
          shard ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c AS o FROM cells),
        r AS (SELECT id, bucket, shard, row_number() OVER
          (PARTITION BY bucket, shard ORDER BY hk, id) - 1 AS rn
          FROM b2)
        SELECT r.id AS doc_id, r.bucket::BIGINT AS bucket,
          (off.o + r.rn)::BIGINT AS idx
        FROM r JOIN off ON r.bucket = off.bucket
          AND r.shard = off.shard""".replaceAll("\\s+", " "))),

    // epoch-based repetition mix: per-source fractional epochs (the
    // LLM-recipe "see high-quality sources 2.75x" knob) materialized
    // as per-doc repeat counts — whole epochs replicate everyone, the
    // fractional remainder selects by the deterministic
    // hash-Bernoulli rule. Counts stay counts (a 100 TB pipeline
    // feeds repeat counts to the loader, never materializes
    // duplicates). Epoch spec derived from the source name so both
    // engines build the identical |sources|-row frame.
    "pipeline_epochs_mix" -> QueryDef(
      (s, dir) => {
        val eps = docs(s, dir).select(col("source")).distinct()
          .withColumn("ex100", lit(50L) +
            (ascii(substring(col("source"), 4, 1)) % 4).cast("long")
              * 75L)
        Curation.epochsMix(
          docs(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source", eps, "ex100", seed = "ep1")
      },
      Some(s"""WITH eps AS (SELECT DISTINCT source,
          50 + (ascii(substr(source, 4, 1)) % 4) * 75 AS ex100
          FROM documents)
        SELECT d.doc_id, d.source,
          (ex100 // 100 + CASE WHEN
            ('0x'||substr(md5(d.doc_id::VARCHAR || ':ep1'),1,15))
              ::BIGINT // ${(1L << 60) / 100L} < ex100 % 100
            THEN 1 ELSE 0 END)::BIGINT AS n_copies
        FROM documents d JOIN eps USING (source)"""
        .replaceAll("\\s+", " "))),

    "pipeline_hash_sample" -> QueryDef(
      (s, dir) => Curation.hashSample(
        docs(s, dir).select("doc_id", "lang", "source", "n_chars"),
        "doc_id", seed = "r7s", rateNum = 1L, rateDen = 10L),
      Some(s"""SELECT doc_id, lang, source, n_chars,
        ('0x'||substr(md5(doc_id::VARCHAR || ':r7s'),1,15))::BIGINT
          AS sample_key
        FROM documents
        WHERE ('0x'||substr(md5(doc_id::VARCHAR || ':r7s'),1,15))::BIGINT
          < ${Curation.hashSampleThreshold(1L, 10L)}"""
        .replaceAll("\\s+", " "))),

    // config-driven curation: the declarative CurationConfig run —
    // length/lang filters → exact dedup (min-id representative) →
    // deterministic 30% hash sample → stable split assignment, every
    // step the engine's existing md5-convention primitive, so the
    // oracle composes from the same SQL fragments.
    "pipeline_configured" -> QueryDef(
      (s, dir) => graft.operators.CurationPipeline.run(
        docs(s, dir), "doc_id", "text", "lang", "n_chars",
        graft.operators.CurationConfig(
          minChars = Some(80L), maxChars = Some(520L),
          langs = Some(Seq("en", "de", "fr")),
          dedupeExact = true,
          sampleNum = Some(30L), sampleDen = 100L, sampleSeed = "r9c",
          withSplit = true))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("sample_key"), col("split")),
      Some(s"""WITH f AS (SELECT * FROM documents
          WHERE n_chars >= 80 AND n_chars <= 520
            AND lang IN ('en', 'de', 'fr')),
        k AS (SELECT min(doc_id) AS keep FROM f GROUP BY text),
        d AS (SELECT f.* FROM f JOIN k ON f.doc_id = k.keep),
        sm AS (SELECT *,
          ('0x'||substr(md5(doc_id::VARCHAR || ':r9c'),1,15))::BIGINT
            AS sample_key FROM d),
        ss AS (SELECT * FROM sm WHERE sample_key <
          ${Curation.hashSampleThreshold(30L, 100L)})
        SELECT doc_id, lang, n_chars, sample_key,
          CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT
                 % 100 < 80 THEN 'train'
               WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT
                 % 100 < 90 THEN 'validation'
               ELSE 'test' END AS split
        FROM ss""".replaceAll("\\s+", " "))),

    "pipeline_shuffle_shard" -> QueryDef(
      (s, dir) => Curation.shuffleShard(docs(s, dir), "doc_id",
        seed = "r7", nShards = 16),
      Some("""WITH h AS (SELECT doc_id AS id,
          ('0x'||substr(md5(doc_id::VARCHAR || ':r7'),1,15))::BIGINT
            AS shuffle_key FROM documents)
        SELECT id, shuffle_key, shuffle_key % 16 AS shard,
          (row_number() OVER (PARTITION BY shuffle_key % 16
            ORDER BY shuffle_key, id) - 1)::BIGINT AS pos
        FROM h""".replaceAll("\\s+", " "))),

    // hashed-feature linear quality classifier (fastText / hashing-
    // trick inference shape): 256 feature slots, md5-derived stand-in
    // weight table (milli-units), logit = exact Long sum of slot
    // weights, class = logit > 0. The oracle rebuilds the identical
    // weight formula per word: weight(slot) =
    // hash60('r7#'||slot) % 2001 - 1000, slot = hash60(word) % 256.
    "text_quality_classifier" -> QueryDef(
      (s, dir) => TextAnalysis.hashedLinearScore(docs(s, dir),
        "doc_id", "text", buckets = 256, seed = "r7"),
      Some("""WITH t AS (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL),
        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
          FROM t),
        f AS (SELECT doc_id,
          ((('0x'||substr(md5('r7#' ||
            ((('0x'||substr(md5(wd),1,15))::BIGINT % 256)::VARCHAR)
            ),1,15))::BIGINT % 2001) - 1000) AS wt
          FROM w)
        SELECT doc_id AS id, count(*)::BIGINT AS n_tokens,
          sum(wt)::BIGINT AS logit_milli,
          (sum(wt) > 0) AS quality_class
        FROM f GROUP BY doc_id""".replaceAll("\\s+", " "))),

    // corpus length profile: word-count histogram (10-word buckets,
    // capped at 200+) — the distribution check every corpus build runs
    // before training. One partial+final aggregate.
    "text_histogram" -> QueryDef(
      (s, dir) => docs(s, dir)
        .select(least(floor(size(split(col("text"), " ")) / 10), lit(20))
          .cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs")),
      Some("""SELECT least(len(string_split(text,' '))//10, 20)::BIGINT
          AS bucket, count(*)::BIGINT AS n_docs
        FROM documents GROUP BY 1""".replaceAll("\\s+", " "))),

    // benchmark decontamination: train-split docs sharing any exact word
    // 5-gram with the held-out test split (the pre-training contamination
    // check). Benchmark n-gram hashes are broadcast (the held-out side is
    // small by construction); join keys are the 60-bit md5-prefix hashes
    // so shuffle rows stay fixed-width.
    "decontaminate_ngram" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir).withColumn("b", splitBucket(col("doc_id")))
        Curation.ngramContamination(
          d.filter(col("b") < 80), d.filter(col("b") >= 90),
          "doc_id", "text", 5)
      },
      Some(s"""WITH $WordsCte,
        sh5 AS (SELECT doc_id, unnest(list_transform(
          generate_series(1, len(w)-4),
          i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))
          AS s FROM words),
        g AS (SELECT DISTINCT doc_id,
          ('0x'||substr(md5(s),1,15))::BIGINT AS g FROM sh5),
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents),
        bench AS (SELECT DISTINCT g.g FROM g JOIN sp USING(doc_id)
          WHERE sp.b >= 90)
        SELECT g.doc_id AS id, count(*)::BIGINT AS n_contaminated
        FROM g JOIN sp USING(doc_id) JOIN bench ON g.g=bench.g
        WHERE sp.b < 80 GROUP BY 1""".replaceAll("\\s+", " "))),

    // FUZZY decontamination: near-duplicate (not just exact-n-gram)
    // overlap between the train and test splits — the MinHash-LSH
    // chain catches paraphrase-level benchmark leakage that exact
    // 5-gram matching misses. Reuses the dedup substrate end-to-end
    // (signatures → bands → candidates → jaccard ≥ 0.5); split
    // membership is DERIVED from the id hash as a pure projection, so
    // restricting to cross-split pairs adds zero joins and zero
    // shuffles on top of the chain.
    // SEMANTIC decontamination: train-split embeddings within cosine
    // >= 0.3 of any held-out-split embedding (n-gram overlap misses
    // paraphrased eval leakage). Benchmark side broadcast (held-out =
    // small by construction); integer outputs (hit count + min bench
    // id), floats only inside the threshold compare whose
    // ascending-index fold both engines share bit-for-bit (the
    // dedup_semantic convention).
    // The benchmark side is additionally pinned to vec_id < 2000 —
    // vacuous at the gates, binding at larger probe SFs: a real
    // decontamination run holds the BENCHMARK fixed while the train
    // corpus grows, so train×bench work must scale linearly in train
    // size (the r12 sf1 probe caught the unpinned form growing 17×).
    "decontaminate_embedding" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir).withColumn("b", splitBucket(col("vec_id")))
        Similarity.decontaminateEmbedding(
          e.filter(col("b") < 80),
          e.filter(col("b") >= 90 && col("vec_id") < 2000),
          "vec_id", "embedding", threshold = 0.3)
      },
      Some("""WITH sp AS (SELECT vec_id,
          ('0x'||substr(md5(vec_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM embeddings),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT v.vec_id, v.v FROM v JOIN sp USING (vec_id)
          WHERE sp.b < 80),
        bn AS (SELECT v.vec_id, v.v FROM v JOIN sp USING (vec_id)
          WHERE sp.b >= 90 AND v.vec_id < 2000),
        p AS (SELECT c.vec_id AS id, bn.vec_id AS bench_id,
          list_reduce(list_transform(generate_series(1,64),
            i -> c.v[i]*bn.v[i]), (x,y) -> x+y) AS dot,
          (sqrt(list_reduce(list_transform(c.v, x -> x*x),
            (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(bn.v, x -> x*x),
            (x,y) -> x+y))) AS nn
          FROM c, bn),
        s AS (SELECT id, bench_id,
          CASE WHEN nn > 0 THEN dot / nn END AS cos FROM p)
        SELECT id, count(*)::BIGINT AS n_contaminated,
          min(bench_id)::BIGINT AS min_bench_id
        FROM s WHERE cos >= 0.3 GROUP BY id"""
        .replaceAll("\\s+", " "))),

    "decontaminate_fuzzy" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val (ba, bb) = (splitBucket(col("id_a")), splitBucket(col("id_b")))
        // cross-split restriction BEFORE the shared-shingle confirm
        // join, not after: only train x test candidates (~16% of all
        // pairs at this split) ever need the exact-jaccard stage — the
        // filter commutes with the confirm, and the r12 sf1 probe
        // showed the candidate chain is where the super-linear growth
        // lives (9.3x at 10x volume when confirming ALL pairs)
        val cross = cand.filter((ba < 80 && bb >= 90) ||
          (ba >= 90 && bb < 80))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cross))
        pairs
          .select(
            when(ba < 80, col("id_a")).otherwise(col("id_b"))
              .as("train_id"),
            when(ba < 80, col("id_b")).otherwise(col("id_a"))
              .as("test_id"),
            col("jaccard"))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte,
        $BandCte, $CandCte,
        dsh AS (SELECT DISTINCT doc_id, s FROM shingle),
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM dsh GROUP BY 1),
        pr AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
          FROM cand c JOIN dsh a ON a.doc_id=c.id_a
          JOIN dsh b ON b.doc_id=c.id_b AND b.s=a.s GROUP BY 1, 2),
        jp AS (SELECT pr.id_a, pr.id_b,
          n_shared/(x.n_sh + y.n_sh - n_shared) AS jaccard FROM pr
          JOIN sz x ON pr.id_a=x.doc_id JOIN sz y ON pr.id_b=y.doc_id
          WHERE n_shared/(x.n_sh + y.n_sh - n_shared)
            >= $JaccardThreshold),
        bk AS (SELECT id_a, id_b, jaccard,
          ('0x'||substr(md5(id_a::VARCHAR),1,15))::BIGINT % 100 AS ba,
          ('0x'||substr(md5(id_b::VARCHAR),1,15))::BIGINT % 100 AS bb
          FROM jp)
        SELECT CASE WHEN ba < 80 THEN id_a ELSE id_b END AS train_id,
          CASE WHEN ba < 80 THEN id_b ELSE id_a END AS test_id, jaccard
        FROM bk
        WHERE (ba < 80 AND bb >= 90) OR (ba >= 90 AND bb < 80)"""
        .replaceAll("\\s+", " "))),

    // Gopher-style repetition metrics: per doc, the occurrence share of
    // its most frequent bigram and the fraction of bigram occurrences
    // that repeat an earlier one. Single-IEEE-divide ratios of integer
    // counts — no rounding needed.
    "text_repetition" -> QueryDef(
      (s, dir) => Curation.repetition(docs(s, dir), "doc_id", "text", 2),
      Some(s"""WITH $WordsCte,
        sh2 AS (SELECT doc_id, unnest(list_transform(
          generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])) AS s
          FROM words),
        gh AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS g
          FROM sh2),
        c AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM gh
          GROUP BY 1, 2),
        r AS (SELECT doc_id, max(cnt)::BIGINT AS top_cnt,
          sum(cnt)::BIGINT AS total, count(*)::BIGINT AS nd FROM c
          GROUP BY 1)
        SELECT doc_id AS id, top_cnt::DOUBLE/total::DOUBLE
          AS top_ngram_frac, (total-nd)::DOUBLE/total::DOUBLE
          AS dup_ngram_frac FROM r""".replaceAll("\\s+", " "))),

    // unigram-LM quality score: mean log prob of each doc under the
    // corpus unigram distribution (the cheap perplexity-filter analog).
    // Vocabulary-sized frequency frame broadcast back to the word rows;
    // avg over doubles rounded to 1e-6 (registry convention).
    "text_unigram_logprob" -> QueryDef(
      (s, dir) => Curation.unigramLogProb(docs(s, dir), "doc_id", "text"),
      Some(s"""WITH $WordsCte,
        wx AS (SELECT doc_id, unnest(w) AS w FROM words),
        freq AS (SELECT w, count(*)::BIGINT AS n FROM wx GROUP BY 1),
        t AS (SELECT sum(n)::BIGINT AS total FROM freq),
        p AS (SELECT w, n::DOUBLE/total::DOUBLE AS p FROM freq, t)
        SELECT doc_id AS id, count(*)::BIGINT AS n_words,
          round(avg(ln(p)),6) AS avg_logprob_r
        FROM wx JOIN p USING(w) GROUP BY 1""".replaceAll("\\s+", " "))),

    // INCREMENTAL exact dedup: the md5-bucket split simulates the
    // daily-increment shape — store = buckets 0-79, new batch = 80-99;
    // each new doc marked is_dup iff its fingerprint exists in the
    // store. Semi/anti joins on the fingerprint only (no doc bodies on
    // the wire, no distinct pass, no row multiplication).
    "dedup_incremental_exact" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val store = Dedup
          .exact(d.filter(splitBucket(col("doc_id")) < 80), "doc_id", "text")
          .select(col("fingerprint"))
        Dedup.incrementalExact(
          d.filter(splitBucket(col("doc_id")) >= 80), "doc_id", "text", store)
      },
      Some("""WITH sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b,
          md5(text) AS f FROM documents),
        store AS (SELECT DISTINCT f FROM sp WHERE b < 80)
        SELECT doc_id AS id, f AS fingerprint,
          (f IN (SELECT f FROM store)) AS is_dup
        FROM sp WHERE b >= 80""".replaceAll("\\s+", " "))),

    // INCREMENTAL near-dup candidates: new-batch LSH band hashes joined
    // against the stored band table (store keeps (id, band, band_hash),
    // not texts) — (new_id, old_id) pairs for the confirm stage.
    "dedup_incremental_candidates" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        def bandsOf(part: DataFrame) = Dedup.lshBandsFromSig(
          Dedup.minhashSignatures(part, "doc_id", "text", MinhashK,
            ShingleLen), LshBands, MinhashK)
        Dedup.lshCandidatePairsAcross(
          bandsOf(d.filter(splitBucket(col("doc_id")) >= 80)),
          bandsOf(d.filter(splitBucket(col("doc_id")) < 80)))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents)
        SELECT DISTINCT a.id AS new_id, b.id AS old_id
        FROM band a JOIN band b
          ON a.band = b.band AND a.band_hash = b.band_hash
        JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
        WHERE x.b >= 80 AND y.b < 80""".replaceAll("\\s+", " "))),

    // GROWING-index maintenance, stage 1 — signature-estimated
    // similarity across frames: per (new, old) candidate, the count of
    // EQUAL minhash components between the batch's fresh signature and
    // the one ALREADY IN THE INDEX (E[matches/k] = Jaccard) — the
    // confirm stage that never re-reads stored text. Exact integers.
    "dedup_inc_sigmatch" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        def sigsOf(part: DataFrame) = Dedup.minhashSignatures(
          part, "doc_id", "text", MinhashK, ShingleLen)
        val newSigs = sigsOf(d.filter(splitBucket(col("doc_id")) >= 80))
        val oldSigs = sigsOf(d.filter(splitBucket(col("doc_id")) < 80))
        Dedup.signatureMatchesAcross(
          Dedup.lshCandidatePairsAcross(
            Dedup.lshBandsFromSig(newSigs, LshBands, MinhashK),
            Dedup.lshBandsFromSig(oldSigs, LshBands, MinhashK)),
          newSigs, oldSigs)
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents),
        ca AS (SELECT DISTINCT a.id AS new_id, b.id AS old_id
          FROM band a JOIN band b
            ON a.band = b.band AND a.band_hash = b.band_hash
          JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
          WHERE x.b >= 80 AND y.b < 80)
        SELECT ca.new_id, ca.old_id,
          sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
            END)::BIGINT AS matches
        FROM ca JOIN sig sa ON sa.id = ca.new_id
        JOIN sig sb ON sb.id = ca.old_id AND sb.seed = sa.seed
        GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // GROWING-index maintenance, stage 2 — the ingest decision: every
    // signed new doc marked is_dup iff some stored candidate matches
    // >= 4 of 8 signature components (J ≈ 0.5).
    "dedup_inc_marks" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        def sigsOf(part: DataFrame) = Dedup.minhashSignatures(
          part, "doc_id", "text", MinhashK, ShingleLen)
        val newSigs = sigsOf(d.filter(splitBucket(col("doc_id")) >= 80))
        val oldSigs = sigsOf(d.filter(splitBucket(col("doc_id")) < 80))
        Dedup.lshIndexIngest(newSigs,
          Dedup.lshBandsFromSig(oldSigs, LshBands, MinhashK), oldSigs,
          LshBands, MinhashK, minMatches = 4)._1
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents),
        ca AS (SELECT DISTINCT a.id AS new_id, b.id AS old_id
          FROM band a JOIN band b
            ON a.band = b.band AND a.band_hash = b.band_hash
          JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
          WHERE x.b >= 80 AND y.b < 80),
        mt AS (SELECT ca.new_id,
          sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
            END)::BIGINT AS matches
          FROM ca JOIN sig sa ON sa.id = ca.new_id
          JOIN sig sb ON sb.id = ca.old_id AND sb.seed = sa.seed
          GROUP BY ca.new_id, ca.old_id)
        SELECT DISTINCT sig.id,
          (sig.id IN (SELECT new_id FROM mt WHERE matches >= 4))
            AS is_dup
        FROM sig JOIN sp ON sig.id = sp.doc_id
        WHERE sp.b >= 80""".replaceAll("\\s+", " "))),

    // GROWING-index maintenance, stage 3 — the index DELTA: band rows
    // of the NON-duplicate new docs (what a persisting caller appends;
    // duplicates stay out so later copies chain to the canonical).
    "dedup_inc_index_delta" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        def sigsOf(part: DataFrame) = Dedup.minhashSignatures(
          part, "doc_id", "text", MinhashK, ShingleLen)
        val newSigs = sigsOf(d.filter(splitBucket(col("doc_id")) >= 80))
        val oldSigs = sigsOf(d.filter(splitBucket(col("doc_id")) < 80))
        Dedup.lshIndexIngest(newSigs,
          Dedup.lshBandsFromSig(oldSigs, LshBands, MinhashK), oldSigs,
          LshBands, MinhashK, minMatches = 4)._2
          .select(col("id"), col("band").cast("long").as("band"),
            col("band_hash"))
      },
      Some(s"""WITH $WordsCte, $ShingleCte, $SigCte, $BandCte,
        sp AS (SELECT doc_id,
          ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS b
          FROM documents),
        ca AS (SELECT DISTINCT a.id AS new_id, b.id AS old_id
          FROM band a JOIN band b
            ON a.band = b.band AND a.band_hash = b.band_hash
          JOIN sp x ON a.id = x.doc_id JOIN sp y ON b.id = y.doc_id
          WHERE x.b >= 80 AND y.b < 80),
        mt AS (SELECT ca.new_id,
          sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0
            END)::BIGINT AS matches
          FROM ca JOIN sig sa ON sa.id = ca.new_id
          JOIN sig sb ON sb.id = ca.old_id AND sb.seed = sa.seed
          GROUP BY ca.new_id, ca.old_id)
        SELECT band.id, band.band::BIGINT AS band, band.band_hash
        FROM band JOIN sp ON band.id = sp.doc_id
        WHERE sp.b >= 80 AND band.id NOT IN
          (SELECT new_id FROM mt WHERE matches >= 4)"""
        .replaceAll("\\s+", " "))),

    // GROWING-index maintenance, within-batch rule: a new doc is a dup
    // if it matches the store OR an earlier (smaller-id) batch sibling
    // — two copies of a novel template arriving in ONE increment must
    // not both enter the index. Deterministic arrival-order tie-break.
    "dedup_inc_marks_within" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        def sigsOf(part: DataFrame) = Dedup.minhashSignatures(
          part, "doc_id", "text", MinhashK, ShingleLen)
        val newSigs = sigsOf(d.filter(splitBucket(col("doc_id")) >= 80))
        val oldSigs = sigsOf(d.filter(splitBucket(col("doc_id")) < 80))
        Dedup.lshIndexIngest(newSigs,
          Dedup.lshBandsFromSig(oldSigs, LshBands, MinhashK), oldSigs,
          LshBands, MinhashK, minMatches = 4, withinBatch = true)._1
      },
      Some(IncMarksWithinSql)),

    // GROWING-index maintenance through the PERSISTED two-tier layout
    // (r16): the same store/batch split and decision rule as
    // dedup_inc_marks_within — one oracle, zero drift — but exercised
    // END-TO-END through the pruned on-disk path: the store's
    // band/sig frames are written as an index, compacted into the
    // bucket-partitioned epoch, and the batch is ingested via
    // lshIngestBatch (bucket-pruned epoch listing + bloom prefilter,
    // the PlanSpec-pinned shapes). Hash-matching the unpruned
    // oracle IS the proof that pruning never changes results.
    "dedup_inc_pruned_marks" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_lshpp_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val d = docs(s, dir)
        val storeSigs = Dedup.minhashSignatures(
          d.filter(splitBucket(col("doc_id")) < 80),
          "doc_id", "text", MinhashK, ShingleLen)
        // seed the index with the existing corpus (no self-dedup on
        // seed: the oracle's store is ALL old docs' bands). Sigs land
        // FIRST and bands derive from the WRITTEN sigs (r22, guide
        // §1.2): the shingle-explode + minhash kernel — the seed's
        // dominant cost — runs ONCE, not once per face; the bands
        // face is a cheap group-by over the tiny persisted sigs
        storeSigs.write.mode("overwrite")
          .parquet(s"$root/idx/sigs/batch=0")
        Dedup.lshBandsFromSig(
          s.read.parquet(s"$root/idx/sigs/batch=0"), LshBands,
          MinhashK)
          .write.mode("overwrite").parquet(s"$root/idx/bands/batch=0")
        graft.streaming.StreamIngest.compactLshIndex(s, s"$root/idx",
          buckets = 8)
        graft.streaming.StreamIngest.lshIngestBatch(
          d.filter(splitBucket(col("doc_id")) >= 80)
            .select(col("doc_id").as("id"), col("text")),
          "id", "text", s"$root/idx", s"$root/marks", 1L,
          MinhashK, LshBands, ShingleLen, 4)
        s.read.parquet(s"$root/marks")
          .select(col("id"), col("is_dup"))
      },
      Some(IncMarksWithinSql)),

    // INDEX RETENTION (r16): expiring documents must leave the index,
    // or a late duplicate of an EXPIRED canonical is marked dup
    // against a document that no longer exists (ghost entries). Here
    // the store's [40, 80) split slice is deleted after seeding; the
    // retention fold (compactLshIndex liveIds) drops its rows, and
    // the batch ingests against the SURVIVING store — the oracle is
    // the same decision rule computed over the POST-delete corpus
    // (store = b < 40). The reference's whole catalog is
    // retention-scoped the same way (pkg/agent/sync.go:122-126).
    "dedup_inc_expired_marks" -> QueryDef(
      (s, dir) => {
        val root = s"/tmp/graft_lshex_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sessionState.newHadoopConf())
          .delete(p, true): Unit
        val d = docs(s, dir)
        val storeSigs = Dedup.minhashSignatures(
          d.filter(splitBucket(col("doc_id")) < 80),
          "doc_id", "text", MinhashK, ShingleLen)
        // sigs FIRST, bands from the written sigs — one minhash
        // kernel pass per seed, not one per face (r22, guide §1.2;
        // same shape as dedup_inc_pruned_marks above)
        storeSigs.write.mode("overwrite")
          .parquet(s"$root/idx/sigs/batch=0")
        Dedup.lshBandsFromSig(
          s.read.parquet(s"$root/idx/sigs/batch=0"), LshBands,
          MinhashK)
          .write.mode("overwrite").parquet(s"$root/idx/bands/batch=0")
        // retention rides the fold itself (the production cadence:
        // expiry applies at the next compaction) -- one pass seeds
        // the epoch AND drops the deleted [40, 80) slice
        graft.streaming.StreamIngest.compactLshIndex(s, s"$root/idx",
          buckets = 8,
          liveIds = Some(d.filter(splitBucket(col("doc_id")) < 40)
            .select(col("doc_id"))))
        graft.streaming.StreamIngest.lshIngestBatch(
          d.filter(splitBucket(col("doc_id")) >= 80)
            .select(col("doc_id").as("id"), col("text")),
          "id", "text", s"$root/idx", s"$root/marks", 1L,
          MinhashK, LshBands, ShingleLen, 4)
        s.read.parquet(s"$root/marks")
          .select(col("id"), col("is_dup"))
      },
      Some(incMarksWithinSql(storeMax = 40))),

    // TF-IDF top-5 terms per doc (keyword extraction for topical
    // routing). Ranking happens ON the 1e-6-rounded score so the order,
    // not just the printed value, is engine-portable; the rank window
    // partitions per doc (group size ≤ distinct terms per doc — never
    // the single-reducer trap).
    "text_tfidf_topk" -> QueryDef(
      (s, dir) => TextAnalysis.tfidfTopK(docs(s, dir), "doc_id", "text", 5),
      Some(s"""WITH $WordsCte,
        wx AS (SELECT doc_id, unnest(w) AS w FROM words),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf FROM wx
          GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        sc AS (SELECT doc_id, term,
          round(tf * ln(n_docs::DOUBLE / df), 6) AS score_r
          FROM tf JOIN dfreq USING(term), nd),
        r AS (SELECT doc_id, term, score_r, row_number() OVER (
          PARTITION BY doc_id ORDER BY score_r DESC, term) AS rank
          FROM sc)
        SELECT doc_id AS id, rank::BIGINT AS rank, term, score_r FROM r
        WHERE rank <= 5""".replaceAll("\\s+", " "))),

    // top-20 bigram collocations by PMI (phrase mining; min count 5).
    // Unigram counts broadcast (vocabulary-sized); global top-N is a
    // TakeOrderedAndProject. ln rounded to 1e-6 before ranking.
    "text_pmi_bigrams" -> QueryDef(
      (s, dir) => TextAnalysis.pmiCollocations(docs(s, dir), "text",
        topN = 20, minCount = 5),
      Some(s"""WITH $WordsCte,
        wx AS (SELECT doc_id, unnest(w) AS w FROM words),
        uni AS (SELECT w, count(*)::BIGINT AS c FROM wx GROUP BY 1),
        tot AS (SELECT sum(c)::BIGINT AS w_total FROM uni),
        bgx AS (SELECT unnest(list_transform(
          generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1]))
          AS bigram FROM words),
        bg AS (SELECT bigram, count(*)::BIGINT AS c_ab FROM bgx
          GROUP BY 1 HAVING count(*) >= 5),
        bg2 AS (SELECT bigram, c_ab, string_split(bigram, ' ')[1] AS wa,
          string_split(bigram, ' ')[2] AS wb FROM bg),
        j AS (SELECT bigram, c_ab, round(ln(c_ab::DOUBLE * w_total /
          (ca.c::DOUBLE * cb.c)), 6) AS pmi_r
          FROM bg2 JOIN uni ca ON bg2.wa = ca.w
          JOIN uni cb ON bg2.wb = cb.w, tot)
        SELECT bigram, c_ab, pmi_r FROM j
        ORDER BY pmi_r DESC, bigram LIMIT 20"""
        .replaceAll("\\s+", " "))),

    // PII scan + redaction (emails / SSNs / IPs / phones → typed
    // placeholder tokens, sequential in PiiPatterns order). The regex
    // patterns are interpolated from Curation.PiiPatterns on BOTH
    // sides, so engine and oracle cannot drift. NOTE: the synthetic
    // corpus has no digits or '@' — counts are zero and redacted ==
    // text here (vacuous-by-fixture, like dedup_embedding_neardup);
    // the non-vacuous evidence is CurationSpec's planted-PII test.
    "pii_scan" -> QueryDef(
      (s, dir) => Curation.piiScan(docs(s, dir), "doc_id", "text"),
      Some {
        val steps = Curation.PiiPatterns.zipWithIndex.map {
          case ((token, pat), i) =>
            val prev = if (i == 0) "text" else s"t$i"
            s"""r${i + 1} AS (SELECT *,
              len(regexp_extract_all($prev, '$pat'))::BIGINT
                AS n_${token.toLowerCase},
              regexp_replace($prev, '$pat', '<$token>', 'g')
                AS t${i + 1} FROM r$i)"""
        }.mkString(", ")
        val last = s"t${Curation.PiiPatterns.length}"
        val countCols = Curation.PiiPatterns
          .map { case (t, _) => s"n_${t.toLowerCase}" }.mkString(", ")
        s"""WITH r0 AS (SELECT doc_id, text FROM documents), $steps
          SELECT doc_id AS id, $countCols, $last AS redacted FROM
          r${Curation.PiiPatterns.length}""".replaceAll("\\s+", " ")
      }),

    // deterministic stratified sampling: per-language hash-threshold
    // fractions (en 50%, de 25%, rest 10%) — domain-mixing weights. The
    // bucket hash is salted with the stratum so sampling stays
    // decorrelated from the md5(id) train/val/test split.
    "pipeline_stratified_sample" -> QueryDef(
      (s, dir) => Curation.stratifiedSample(docs(s, dir), "doc_id",
        "lang", Map("en" -> 0.5, "de" -> 0.25), 0.1),
      Some("""WITH b AS (SELECT doc_id, lang,
          ('0x'||substr(md5(lang||'#'||doc_id::VARCHAR),1,15))::BIGINT
            % 10000 AS bucket FROM documents)
        SELECT doc_id AS id, lang AS stratum, bucket FROM b
        WHERE bucket < CASE lang WHEN 'en' THEN 5000
          WHEN 'de' THEN 2500 ELSE 1000 END"""
        .replaceAll("\\s+", " "))),

    // sequence packing: docs → fixed 2048-token-budget packs in id
    // order (the "concatenate and chop" LM batching step). The running
    // token total is a distributed two-level prefix sum (per-id-range
    // partial sums + a tiny bucket-offset window), never a global
    // ordered window; the oracle IS the global-window form — bit-equal
    // exact integer math.
    "pipeline_pack_sequences" -> QueryDef(
      (s, dir) => Curation.packSequences(docs(s, dir), "doc_id", "text",
        budget = 2048, bucketSize = 100),
      Some(s"""WITH $WordsCte,
        tok AS (SELECT doc_id, list_sum(list_transform(w,
          x -> (length(x)+3)//4))::BIGINT AS tokens FROM words),
        c AS (SELECT doc_id, tokens, sum(tokens) OVER (ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM tok)
        SELECT doc_id AS id, tokens, ((cum - tokens) // 2048)::BIGINT
          AS pack_id FROM c""".replaceAll("\\s+", " "))),

    // tokenizer-faithful token budget: GPT-2-ish pretokenize (letter
    // runs / single digits / single punctuation) then ceil(len/4)
    // subword pieces per pretoken — the number a training mix is
    // planned in, unlike whitespace-word counts. The pattern is
    // interpolated from TextAnalysis.PretokenPattern on BOTH sides so
    // engine and oracle cannot drift. NOTE: the synthetic corpus is
    // pure lowercase words, so here n_tokens equals the bpe estimate —
    // the punctuation/digit evidence is TextAnalysisSpec's planted
    // fixture (the pii_scan convention for vacuous-by-fixture corpora).
    "text_tokenizer_tokens" -> QueryDef(
      (s, dir) => TextAnalysis.tokenBudget(docs(s, dir), "doc_id",
        "text"),
      Some(s"""SELECT doc_id AS id,
        len(regexp_extract_all(text,
          '${TextAnalysis.PretokenPattern}'))::BIGINT AS n_pretokens,
        coalesce(list_sum(list_transform(regexp_extract_all(text,
          '${TextAnalysis.PretokenPattern}'),
          g -> (length(g)+3)//4)), 0)::BIGINT AS n_tokens
        FROM documents""".replaceAll("\\s+", " "))),

    // exact token-quota apportionment (Hamilton / largest remainder):
    // a 10⁶-token budget split across sources proportionally to their
    // tokenizer-token weights with Σ quotas = budget EXACTLY — floor
    // shares + the leftover to the largest remainders (ties by source
    // name). The planning step floats can't do: proportional floats
    // never sum to the budget. Bounded rank window (source frame,
    // allowlisted).
    "pipeline_token_quota" -> QueryDef(
      (s, dir) => Curation.tokenQuota(
        TextAnalysis.tokenBudget(docs(s, dir), "doc_id", "text")
          .join(docs(s, dir).select(col("doc_id").as("id"),
            col("source")), "id")
          .groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("w_tokens")),
        "source", "w_tokens", budget = 1000000L),
      Some(s"""WITH t AS (SELECT doc_id,
          coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0)::BIGINT AS nt
          FROM documents),
        w AS (SELECT d.source, sum(t.nt)::BIGINT AS w_tokens
          FROM t JOIN documents d USING (doc_id) GROUP BY 1),
        tw AS (SELECT sum(w_tokens)::BIGINT AS tw FROM w),
        b AS (SELECT w.source, w.w_tokens,
            ((1000000 * w.w_tokens) // tw.tw)::BIGINT AS floor_q,
            ((1000000 * w.w_tokens) % tw.tw)::BIGINT AS rem
          FROM w CROSS JOIN tw),
        rk AS (SELECT b.*, row_number() OVER
            (ORDER BY rem DESC, source) AS rk,
            (SELECT 1000000 - sum(floor_q) FROM b) AS r
          FROM b)
        SELECT source, w_tokens, floor_q, rem,
          (CASE WHEN rk <= r THEN 1 ELSE 0 END)::BIGINT AS extra,
          (floor_q + CASE WHEN rk <= r THEN 1 ELSE 0 END)::BIGINT
            AS quota
        FROM rk""".replaceAll("\\s+", " "))),

    // one-shot DATASET CARD: the long-format summary row set every
    // corpus hand-off ships with (docs/sources/langs/chars/token
    // budget/exact-dup rate) — ONE pass over the corpus (a single
    // wide aggregate over the token-budget projection) unpivoted to
    // (metric, value); every value an exact Long (rates floored bp,
    // means half-up).
    "pipeline_dataset_card" -> QueryDef(
      (s, dir) => {
        val f = TextAnalysis.tokenBudget(docs(s, dir), "doc_id",
            "text")
          .join(docs(s, dir).select(col("doc_id").as("id"),
            col("source"), col("lang"), col("n_chars"),
            md5(col("text")).as("h")), "id")
        val wide = f.agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          expr("(2 * sum(n_chars) + count(1)) div (2 * count(1))")
            .as("mean_chars"),
          sum(col("n_pretokens")).as("total_pretokens"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("h")).as("n_distinct_texts"))
        val metrics = Seq("n_docs", "n_sources", "n_langs",
          "total_chars", "mean_chars", "total_pretokens",
          "total_tokens")
        metrics.map(m => wide.select(lit(m).as("metric"),
            col(m).cast("long").as("value")))
          .reduce(_ unionAll _)
          .unionAll(wide.select(lit("exact_dup_bp").as("metric"),
            expr("((n_docs - n_distinct_texts) * 10000) div n_docs")
              .as("value")))
      },
      Some(s"""WITH t AS (SELECT doc_id,
          len(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'))::BIGINT AS np,
          coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0)::BIGINT AS nt,
          source, lang, n_chars, md5(text) AS h FROM documents)
        SELECT 'n_docs' AS metric, count(*)::BIGINT AS value FROM t
        UNION ALL SELECT 'n_sources',
          count(DISTINCT source)::BIGINT FROM t
        UNION ALL SELECT 'n_langs', count(DISTINCT lang)::BIGINT
          FROM t
        UNION ALL SELECT 'total_chars', sum(n_chars)::BIGINT FROM t
        UNION ALL SELECT 'mean_chars',
          CAST((2 * sum(n_chars) + count(*)) // (2 * count(*))
            AS BIGINT) FROM t
        UNION ALL SELECT 'total_pretokens', sum(np)::BIGINT FROM t
        UNION ALL SELECT 'total_tokens', sum(nt)::BIGINT FROM t
        UNION ALL SELECT 'exact_dup_bp',
          (((count(*) - count(DISTINCT h)) * 10000) // count(*))
            ::BIGINT FROM t""".replaceAll("\\s+", " "))),

    // tokenizer FERTILITY per language: tokens-per-pretoken in exact
    // basis points — the cross-lingual cost profile (a language with
    // 2× fertility pays 2× the context budget per word; the number
    // that decides per-language sampling temperatures). Pure rollup
    // of the oracled tokenBudget chain.
    "text_tokenizer_fertility" -> QueryDef(
      (s, dir) => TextAnalysis.tokenBudget(docs(s, dir), "doc_id",
          "text")
        .join(docs(s, dir).select(col("doc_id").as("id"), col("lang")),
          "id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pretokens")).as("pretokens"),
          sum(col("n_tokens")).as("tokens"))
        .withColumn("fertility_bp",
          expr("(tokens * 10000) div pretokens")),
      Some(s"""WITH t AS (SELECT doc_id,
          len(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'))::BIGINT AS np,
          coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0)::BIGINT AS nt
          FROM documents)
        SELECT d.lang, count(*)::BIGINT AS n_docs,
          sum(t.np)::BIGINT AS pretokens, sum(t.nt)::BIGINT AS tokens,
          ((sum(t.nt) * 10000) // sum(t.np))::BIGINT AS fertility_bp
        FROM t JOIN documents d USING (doc_id)
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // REAL fixed-merges BPE token counts (functions.Bpe: the GPT-2
    // bpe() greedy merge loop over a fixed merge table — a trained
    // tokenizer ships exactly this artifact). Rows-only: the
    // iterate-until-fixpoint merge loop is not SQL-expressible; BpeSpec
    // pins it with an algorithm differential (greedy-min-rank engine vs
    // an independent rank-order reference, equivalent on the
    // spec-asserted well-formed table) + hand fixtures + an
    // expression≡driver differential.
    "text_bpe_real" -> QueryDef(
      (s, dir) => docs(s, dir).select(col("doc_id").as("id"),
        graft.functions.Bpe.bpeTokenCountCol(col("text"))
          .as("n_bpe_tokens")),
      None),

    // sequence packing budgeted in TOKENIZER tokens (not whitespace
    // words) — same two-level distributed prefix sum as
    // pipeline_pack_sequences, same global-window oracle, different
    // (tokenizer-faithful) budgeting unit.
    "pipeline_pack_tokens" -> QueryDef(
      (s, dir) => Curation.packSequences(docs(s, dir), "doc_id", "text",
        budget = 2048, bucketSize = 100,
        tokenCounter = TextAnalysis.tokenizerTokens),
      Some(s"""WITH tok AS (SELECT doc_id,
          coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0)::BIGINT AS tokens
          FROM documents),
        c AS (SELECT doc_id, tokens, sum(tokens) OVER (ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM tok)
        SELECT doc_id AS id, tokens, ((cum - tokens) // 2048)::BIGINT
          AS pack_id FROM c""".replaceAll("\\s+", " "))),

    // PPS draw weighted by TOKENIZER token count ("sample tokens, not
    // documents", budgeted in the unit the mix is actually planned in):
    // keep-probability n_tokens·K/2^60 with K = 2^60/680 (≈ 12% at the
    // corpus's ~82-token average), the same exact integer h div K < w
    // test as pipeline_pps_sample.
    "pipeline_pps_tokens" -> QueryDef(
      (s, dir) => Curation.ppsSample(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.tokenizerTokens(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", seed = "r9t",
        perUnitThreshold = (1L << 60) / 680L),
      Some(s"""WITH t AS (SELECT doc_id, source,
          coalesce(list_sum(list_transform(regexp_extract_all(text,
            '${TextAnalysis.PretokenPattern}'),
            g -> (length(g)+3)//4)), 0)::BIGINT AS n_tokens
          FROM documents)
        SELECT doc_id, source, n_tokens,
          ('0x'||substr(md5(doc_id::VARCHAR || ':r9t'),1,15))::BIGINT
            AS pps_key
        FROM t
        WHERE ('0x'||substr(md5(doc_id::VARCHAR || ':r9t'),1,15))::BIGINT
          // ${(1L << 60) / 680L} < n_tokens"""
        .replaceAll("\\s+", " "))),

    // k-NN label classification: majority vote over the 5 nearest
    // corpus embeddings (cosine), vote ties to the smallest label —
    // the label-propagation / auto-labeling pass over an embedded
    // corpus. Integer outputs only; neighbor ranking shares the
    // ann_bruteforce oracle convention (round-6 score, id tiebreak).
    "emb_knn_label" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.knnLabel(e.filter(col("vec_id") < 16), e,
          "vec_id", "embedding", "label", k = 5)
      },
      Some("""WITH v AS (SELECT vec_id, label,
          embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 16),
        s0 AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
          list_reduce(list_transform(generate_series(1,64),
            i -> q.qv[i]*c.v[i]), (x,y) -> x+y) AS dot,
          (sqrt(list_reduce(list_transform(q.qv, x -> x*x),
            (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(c.v, x -> x*x),
            (x,y) -> x+y))) AS nn
          FROM q, v c WHERE c.vec_id != q.qid),
        s AS (SELECT query_id, neighbor_id,
          CASE WHEN nn > 0 THEN dot / nn END AS cos FROM s0),
        r AS (SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id
          ORDER BY round(cos,6) DESC, neighbor_id) AS rank
          FROM s WHERE cos IS NOT NULL),
        lv AS (SELECT r.query_id, e.label::BIGINT AS label,
          count(*)::BIGINT AS votes
          FROM r JOIN embeddings e ON r.neighbor_id = e.vec_id
          WHERE r.rank <= 5 GROUP BY 1, 2)
        SELECT query_id, label AS pred_label, votes FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, label) AS rn FROM lv)
        WHERE rn = 1""".replaceAll("\\s+", " "))),

    // per-label embedding centroids: element-wise mean vector per class
    // — the statistic behind SemDeDup cluster seeds, class prototypes,
    // and embedding-drift monitors. posexplode → (label, dim) partial/
    // final avg: each dimension aggregates independently, so the
    // shuffle key space is |labels|×dim — thousands of reducers at
    // 100 TB, never one per label.
    "emb_label_centroids" -> QueryDef(
      (s, dir) => emb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("col")), 6).as("mean_val"),
          count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("dim"), col("mean_val"), col("n")),
      Some("""SELECT label::BIGINT AS label, (i - 1)::BIGINT AS dim,
        round(avg(x), 6) AS mean_val, count(*)::BIGINT AS n
        FROM (SELECT label, unnest(embedding) AS x,
          unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
        GROUP BY label, i""".replaceAll("\\s+", " "))),

    // embedding norm audit: per-label squared-L2-norm stats in scaled
    // integers — the pre-flight before any cosine ANN (unnormalized
    // embeddings silently bias inner-product ranking). The norm is
    // the codegen'd vec_normsq kernel whose left-fold order the ANN
    // oracles already pin against DuckDB's list_reduce; one half-up
    // rounding to micro-units makes every downstream stat exact.
    "emb_norm_stats" -> QueryDef(
      (s, dir) => emb(s, dir)
        .select(col("label"),
          expr("""cast(round(vec_normsq(cast(embedding as
            array<double>)) * 1000000, 0) as bigint)""").as("nu"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"), min(col("nu")).as("min_nu"),
          max(col("nu")).as("max_nu"),
          expr("(2 * sum(nu) + count(1)) div (2 * count(1))")
            .as("avg_nu")),
      Some("""WITH v AS (SELECT label, CAST(round(list_reduce(
          list_transform(embedding::DOUBLE[], x -> x * x),
          (x, y) -> x + y) * 1000000, 0) AS BIGINT) AS nu
          FROM embeddings)
        SELECT label::BIGINT AS label, count(*)::BIGINT AS n,
          min(nu) AS min_nu, max(nu) AS max_nu,
          CAST((2 * sum(nu) + count(*)) // (2 * count(*)) AS BIGINT)
            AS avg_nu
        FROM v GROUP BY 1""".replaceAll("\\s+", " "))),

    // embedding drift: squared L2 distance between per-label centroids
    // of two deterministic cohorts (vec_id parity — in production, two
    // snapshot dates) — the distribution-shift monitor a training
    // pipeline runs before mixing a new crawl into an old corpus.
    // Determinism: per-dim means are rounded to 6 (the
    // emb_label_centroids convention) BEFORE the distance, so the
    // distance arithmetic runs on hash-identical inputs; the 64-term
    // distance sum is itself rounded. Everything past the one
    // posexplode groupBy runs on the labels×dims frame.
    "emb_drift" -> QueryDef(
      (s, dir) => emb(s, dir)
        .select(col("label"), pmod(col("vec_id"), lit(2)).as("cohort"),
          posexplode(col("embedding")))
        .groupBy(col("label"), col("cohort"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("label"), col("pos"))
        .agg(max(when(col("cohort") === 0, col("m"))).as("m0"),
          max(when(col("cohort") === 1, col("m"))).as("m1"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_dims"),
          round(sum((col("m0") - col("m1")) * (col("m0") - col("m1"))),
            6).as("drift2")),
      Some("""WITH b AS (SELECT label, vec_id % 2 AS cohort,
          unnest(embedding) AS x,
          unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings),
        c AS (SELECT label, cohort, i, round(avg(x), 6) AS m
          FROM b GROUP BY 1, 2, 3),
        p AS (SELECT label, i,
          max(CASE WHEN cohort = 0 THEN m END) AS m0,
          max(CASE WHEN cohort = 1 THEN m END) AS m1
          FROM c GROUP BY 1, 2)
        SELECT label::BIGINT AS label, count(*)::BIGINT AS n_dims,
          round(sum((m0 - m1) * (m0 - m1)), 6) AS drift2
        FROM p GROUP BY 1""".replaceAll("\\s+", " "))),

    // per-dimension embedding variance profile — the dead-dimension
    // screen (a near-zero-variance dimension carries no signal and
    // wastes index/ANN budget; one dominating dimension distorts every
    // unwhitened distance). E[x²]−E[x]² per dim with both avgs in
    // DOUBLE, rounded once; everything past the posexplode runs on the
    // 64-row dims frame.
    "emb_dim_variance" -> QueryDef(
      (s, dir) => emb(s, dir)
        .select(posexplode(col("embedding")))
        .select(col("pos"), col("col").cast("double").as("x"))
        .groupBy(col("pos").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 6).as("mean_r"),
          round(avg(col("x") * col("x")) -
            avg(col("x")) * avg(col("x")), 6).as("var_r")),
      Some("""SELECT (i - 1)::BIGINT AS dim, count(*)::BIGINT AS n,
        round(avg(x), 6) AS mean_r,
        round(avg(x * x) - avg(x) * avg(x), 6) AS var_r
        FROM (SELECT unnest(embedding)::DOUBLE AS x,
          unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
        GROUP BY i""".replaceAll("\\s+", " "))),

    // Jensen–Shannon divergence of each source's unigram distribution
    // from the corpus distribution — the bounded symmetric drift
    // metric ([0, ln 2]): which source no longer speaks the corpus's
    // language. Absent-word mass folds in closed form
    // (p=0 ⇒ term = q·ln2), so the whole computation runs on the
    // source-vocabulary join frame; totals broadcast; the vocab-sum is
    // a multi-row double aggregate ⇒ rounded 6.
    "text_js_divergence" -> QueryDef(
      (s, dir) => {
        val w = docs(s, dir).select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        val cs = w.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
        val cw = w.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val ns = cs.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
        val tot = cw.agg(sum(col("cc")).as("n_t"))
        val p = col("c").cast("double") / col("n_s").cast("double")
        val q = col("cc").cast("double") / col("n_t").cast("double")
        cs.join(cw, "w")
          .join(broadcast(ns), "source")
          .crossJoin(broadcast(tot))
          .select(col("source"), p.as("p"), q.as("q"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_types"),
            round((sum(col("p") * log(lit(2.0) * col("p") /
                (col("p") + col("q"))) +
              col("q") * log(lit(2.0) * col("q") /
                (col("p") + col("q")))) +
              log(lit(2.0)) * (lit(1.0) - sum(col("q")))) * 0.5, 6)
              .as("jsd_r"))
      },
      Some("""WITH w AS (SELECT source,
          unnest(string_split(text, ' ')) AS w FROM documents),
        cs AS (SELECT source, w, count(*)::BIGINT AS c FROM w
          GROUP BY 1, 2),
        cw AS (SELECT w, count(*)::BIGINT AS cc FROM w GROUP BY 1),
        ns AS (SELECT source, sum(c)::BIGINT AS n_s FROM cs
          GROUP BY 1),
        t AS (SELECT sum(cc)::BIGINT AS n_t FROM cw),
        j AS (SELECT cs.source,
            cs.c::DOUBLE / ns.n_s::DOUBLE AS p,
            cw.cc::DOUBLE / t.n_t::DOUBLE AS q
          FROM cs JOIN cw USING (w) JOIN ns USING (source)
          CROSS JOIN t)
        SELECT source, count(*)::BIGINT AS n_types,
          round((sum(p * ln(2.0 * p / (p + q)) +
            q * ln(2.0 * q / (p + q))) +
            ln(2.0) * (1.0 - sum(q))) * 0.5, 6) AS jsd_r
        FROM j GROUP BY 1""".replaceAll("\\s+", " "))),

    // per-label centroid-distance outliers — the embedding-space
    // mislabel/poison screen (a vector far from its own label's
    // centroid is a labeling error or an injected point). Centroids
    // round first (the emb_drift convention) so the distance runs on
    // hash-identical inputs; the per-vector 64-term distance sum is
    // rounded to micro-units ONCE into an exact Long, and the outlier
    // test d²·n > 2·Σd² is cross-multiplied integer arithmetic — no
    // epsilon, no double compare. Everything past the posexplode
    // groupBy runs on labels×dims / per-vector frames; the label
    // totals broadcast.
    "emb_outliers" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), col("label"),
          posexplode(col("embedding")))
        val cent = e.groupBy(col("label"), col("pos"))
          .agg(round(avg(col("col")), 6).as("m"))
        val d2 = e.join(broadcast(cent), Seq("label", "pos"))
          .withColumn("dd",
            (col("col").cast("double") - col("m")) *
              (col("col").cast("double") - col("m")))
          .groupBy(col("vec_id"), col("label"))
          .agg(round(sum(col("dd")) * 1000000, 0).cast("long")
            .as("d2u"))
        val tot = d2.groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("d2u")).as("s"))
        d2.join(broadcast(tot), Seq("label"))
          .groupBy(col("label").cast("long").as("label"), col("n"),
            expr("(2 * s + n) div (2 * n)").as("mean_d2u"))
          .agg(sum(when(col("d2u") * col("n") > lit(2) * col("s"), 1L)
            .otherwise(0L)).as("n_outliers"))
      },
      Some("""WITH b AS (SELECT vec_id, label, unnest(embedding) AS x,
          unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings),
        c AS (SELECT label, i, round(avg(x), 6) AS m FROM b
          GROUP BY 1, 2),
        d AS (SELECT b.vec_id, b.label,
          CAST(round(sum((b.x - c.m) * (b.x - c.m)) * 1000000, 0)
            AS BIGINT) AS d2u
          FROM b JOIN c ON b.label = c.label AND b.i = c.i
          GROUP BY 1, 2),
        t AS (SELECT label, count(*)::BIGINT AS n, sum(d2u)::BIGINT
          AS s FROM d GROUP BY 1)
        SELECT t.label::BIGINT AS label, t.n,
          CAST((2 * t.s + t.n) // (2 * t.n) AS BIGINT) AS mean_d2u,
          sum(CASE WHEN d.d2u * t.n > 2 * t.s THEN 1 ELSE 0 END)
            ::BIGINT AS n_outliers
        FROM d JOIN t USING (label) GROUP BY 1, 2, 3"""
        .replaceAll("\\s+", " "))),

    // per-label embedding SEPARATION: mean intra-class centroid
    // distance vs the nearest OTHER centroid (a Fisher-style ratio in
    // exact micro-units — labels whose ratio approaches 1 are not
    // separable in this embedding space and will confuse any k-NN /
    // centroid classifier built on it). Reuses the emb_outliers
    // distance discipline (round-then-compare); everything past the
    // posexplode groupBy runs on labels×dims / per-vector frames.
    "emb_separation" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), col("label"),
          posexplode(col("embedding")))
        val cent = e.groupBy(col("label"), col("pos"))
          .agg(round(avg(col("col")), 6).as("m"))
        val d2 = e.join(broadcast(cent), Seq("label", "pos"))
          .withColumn("dd",
            (col("col").cast("double") - col("m")) *
              (col("col").cast("double") - col("m")))
          .groupBy(col("vec_id"), col("label"))
          .agg(round(sum(col("dd")) * 1000000, 0).cast("long")
            .as("d2u"))
        val intra = d2.groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            expr("(2 * sum(d2u) + count(1)) div (2 * count(1))")
              .as("intra_d2u"))
        val inter = cent.select(col("label").as("la"), col("pos"),
            col("m").as("ma"))
          .join(cent.select(col("label").as("lb"), col("pos"),
            col("m").as("mb")), Seq("pos"))
          .filter(col("la") =!= col("lb"))
          .groupBy(col("la"), col("lb"))
          .agg(round(sum((col("ma") - col("mb")) *
            (col("ma") - col("mb"))) * 1000000, 0).cast("long")
            .as("cd2u"))
          .groupBy(col("la").as("label"))
          .agg(min(col("cd2u")).as("min_inter_d2u"))
        intra.join(inter, "label")
          .select(col("label").cast("long").as("label"), col("n"),
            col("intra_d2u"), col("min_inter_d2u"),
            round(col("min_inter_d2u").cast("double") /
              col("intra_d2u").cast("double"), 4).as("sep_r"))
      },
      Some("""WITH b AS (SELECT vec_id, label, unnest(embedding) AS x,
          unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings),
        c AS (SELECT label, i, round(avg(x), 6) AS m FROM b
          GROUP BY 1, 2),
        d AS (SELECT b.vec_id, b.label,
          CAST(round(sum((b.x - c.m) * (b.x - c.m)) * 1000000, 0)
            AS BIGINT) AS d2u
          FROM b JOIN c ON b.label = c.label AND b.i = c.i
          GROUP BY 1, 2),
        it AS (SELECT label, count(*)::BIGINT AS n,
          CAST((2 * sum(d2u) + count(*)) // (2 * count(*)) AS BIGINT)
            AS intra_d2u FROM d GROUP BY 1),
        pr AS (SELECT a.label AS la, z.label AS lb,
          CAST(round(sum((a.m - z.m) * (a.m - z.m)) * 1000000, 0)
            AS BIGINT) AS cd2u
          FROM c a JOIN c z ON a.i = z.i AND a.label <> z.label
          GROUP BY 1, 2),
        nn AS (SELECT la AS label, min(cd2u)::BIGINT AS min_inter_d2u
          FROM pr GROUP BY 1)
        SELECT it.label::BIGINT AS label, it.n, it.intra_d2u,
          nn.min_inter_d2u,
          round(nn.min_inter_d2u::DOUBLE / it.intra_d2u::DOUBLE, 4)
            AS sep_r
        FROM it JOIN nn USING (label)""".replaceAll("\\s+", " "))),

    // per-source duplicate-rate report — the observability rollup of
    // the clustering chain: which sources flood the corpus with
    // near-dups (a crawl-quality dashboard's first panel). Shares the
    // recursive cluster oracle; rates in exact basis points.
    "pipeline_dedup_report" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val sig = Dedup.minhashSignatures(d, "doc_id", "text",
          MinhashK, ShingleLen)
        val cand =
          Dedup.lshCandidatePairs(Dedup.lshBandsFromSig(sig, LshBands, MinhashK))
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", ShingleLen,
          JaccardThreshold, candidates = Some(cand))
          .select(col("id_a"), col("id_b"))
        val cl = Dedup.dupClusters(d, "doc_id", pairs, shortcut = false)
        val sizes = cl.groupBy(col("cluster"))
          .agg(count(lit(1)).as("sz"))
        d.select(col("doc_id").as("id"), col("source"))
          .join(cl, "id").join(sizes, "cluster")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup"))
          .select(col("source"), col("n_docs"), col("n_dup"),
            expr("(n_dup * 10000) div n_docs").as("dup_bp"))
      },
      Some(s"""WITH RECURSIVE $ClusterReachCtes,
        cl AS (SELECT id, min(label)::BIGINT AS cluster FROM reach
          GROUP BY id),
        cs AS (SELECT cluster, count(*)::BIGINT AS sz FROM cl
          GROUP BY 1)
        SELECT d.source, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN cs.sz > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
          ((sum(CASE WHEN cs.sz > 1 THEN 1 ELSE 0 END) * 10000)
            // count(*))::BIGINT AS dup_bp
        FROM documents d JOIN cl ON d.doc_id = cl.id
        JOIN cs ON cl.cluster = cs.cluster
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // per-vector symmetric int8 quantization (the float32→int8 storage
    // step before ANN serving): codes, scale, and per-element error all
    // in EXACT integer space (micro-units → sign-split half-up integer
    // division), so every output column hash-matches DuckDB. Pure
    // projection, zero exchanges (plan-pinned in SimilaritySpec).
    // Matryoshka truncation audit: per adjacent-id pair, cosine at
    // prefix dims 8/16/32 vs the full 64 — "how much similarity
    // signal survives truncation", the measurement behind
    // dimension-adaptive retrieval (truncate for the coarse pass,
    // full dims to re-rank). Per-pair rows stay hash-stable: each
    // cosine is the ascending-index fold both engines compute
    // bit-identically (the AnnExactOracle discipline), no
    // order-dependent float aggregate anywhere.
    "emb_matryoshka_audit" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val pairs = e.select(col("vec_id").as("id_a"),
            col("embedding").as("va"))
          .filter(col("id_a") < 64)
          .join(e.select(col("vec_id").as("id_b"),
            col("embedding").as("vb")),
            col("id_b") === col("id_a") + 1)
        Seq(8, 16, 32).map { d =>
          pairs.select(col("id_a"), col("id_b"),
            lit(d.toLong).as("d"),
            round(Similarity.cosine(col("va"), col("vb")), 6)
              .as("cos_full_r"),
            round(Similarity.cosine(slice(col("va"), 1, d),
              slice(col("vb"), 1, d)), 6).as("cos_d_r"),
            round(abs(Similarity.cosine(slice(col("va"), 1, d),
              slice(col("vb"), 1, d)) -
              Similarity.cosine(col("va"), col("vb"))), 6)
              .as("absdev_r"))
        }.reduce(_ unionAll _)
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          a.v AS va, b.v AS vb FROM v a
          JOIN v b ON b.vec_id = a.vec_id + 1 WHERE a.vec_id < 64),
        c AS (SELECT id_a, id_b, d,
          list_reduce(list_transform(generate_series(1, 64),
            i -> va[i] * vb[i]), (x, y) -> x + y) /
          (sqrt(list_reduce(list_transform(generate_series(1, 64),
            i -> va[i] * va[i]), (x, y) -> x + y)) *
           sqrt(list_reduce(list_transform(generate_series(1, 64),
            i -> vb[i] * vb[i]), (x, y) -> x + y))) AS cf,
          list_reduce(list_transform(generate_series(1, d),
            i -> va[i] * vb[i]), (x, y) -> x + y) /
          (sqrt(list_reduce(list_transform(generate_series(1, d),
            i -> va[i] * va[i]), (x, y) -> x + y)) *
           sqrt(list_reduce(list_transform(generate_series(1, d),
            i -> vb[i] * vb[i]), (x, y) -> x + y))) AS cs
          FROM p, (SELECT unnest([8, 16, 32]) AS d))
        SELECT id_a, id_b, d::BIGINT AS d, round(cf, 6) AS cos_full_r,
          round(cs, 6) AS cos_d_r, round(abs(cs - cf), 6) AS absdev_r
        FROM c""".replaceAll("\\s+", " "))),

    "emb_quantize_int8" -> QueryDef(
      (s, dir) => Similarity.quantizeInt8(emb(s, dir), "vec_id",
        "embedding"),
      Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS vu
          FROM embeddings),
        sc AS (SELECT vec_id, vu,
          list_reduce(list_transform(vu, x -> abs(x)),
            (a, b) -> greatest(a, b)) AS scale_u FROM v),
        e AS (SELECT vec_id, scale_u,
          unnest(vu) AS x,
          unnest(generate_series(0, len(vu) - 1)) AS dim FROM sc),
        c AS (SELECT vec_id, dim::BIGINT AS dim,
          CASE WHEN scale_u = 0 THEN 0
            WHEN x < 0 THEN -((254 * (-x) + scale_u) // (2 * scale_u))
            ELSE (254 * x + scale_u) // (2 * scale_u) END AS code,
          scale_u, x FROM e)
        SELECT vec_id, dim, code, scale_u,
          abs(127 * x - code * scale_u) AS err_u FROM c"""
        .replaceAll("\\s+", " "))),

    // distributed PCA: one sufficient-statistics pass (d(d+3)/2-double
    // buffer per partial, independent of row count), driver-side d×d
    // Jacobi eigensolve, then projection as one codegen'd kernel over
    // literal components — zero shuffle after the fit's single scalar
    // aggregate. Rows-only: no SQL engine exposes an eigensolver, and
    // Gram summation order makes components ulp-sensitive; exactness
    // (orthonormality, eigen residual, trace preservation, known-axis
    // recovery, projection differential) is pinned in PcaSpec.
    "emb_pca_project" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val model = Pca.fit(e, "embedding", k = 8)
        Pca.project(e, "embedding", model)
          .select(col("vec_id") +:
            (0 until 8).map(i => round(element_at(col("pc"), i + 1), 4)
              .as(s"pc${i + 1}")): _*)
      },
      None),

    // JSONL roundtrip: write the corpus as newline-delimited JSON, read
    // it back with the ORIGINAL schema, prove losslessness against the
    // parquet source. JSONL is the interchange format every LLM corpus
    // pipeline speaks (exports, annotation hand-offs, tokenizer feeds);
    // the scale posture is the same as parquet's — one file per task on
    // write, splittable line-oriented scan on read — but schema-on-read:
    // the explicit schema (never inference, which is a full extra pass
    // over 100 TB) is the load-bearing detail. Roundtrip exercises JSON
    // string escaping (quotes/newlines/unicode) both ways.
    "source_jsonl_roundtrip" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val dst = s"/tmp/graft_jsonl_rt_${math.abs(dir.hashCode)}"
        d.write.mode("overwrite").json(dst)
        s.read.schema(d.schema).json(dst)
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // declarative data-quality expectations (the dbt-test contract
    // shape): five checks over orders — not-null, unique key, price
    // range, status enum, FK to customer — one verdict row each; the
    // range and enum checks are DELIBERATELY violated by the data so
    // both verdict polarities are exercised. Row-local checks fuse
    // into one aggregate pass (one scan for three checks).
    "pipeline_expectations" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .withColumn("price_c",
            round(col("o_totalprice") * 100, 0).cast("long"))
          // o_orderdate is TIMESTAMP_NTZ; the session TZ is pinned
          // UTC (Sessions.bootstrap), so the cast is the identity
          // DuckDB's epoch_us computes on the naive timestamp
          .withColumn("odate_us",
            expr("unix_micros(cast(o_orderdate as timestamp))"))
        Expectations.run(o, Seq(
          Expectations.NotNull("o_custkey"),
          Expectations.Unique(Seq("o_orderkey")),
          Expectations.InRange("price_c", 1L, 20000000L),
          Expectations.InSet("o_orderstatus", Seq("F", "O")),
          // as-of 2002-01-01, one-year lag budget: the corpus ends
          // 2001-08, so the feed reads FRESH — the stale polarity is
          // exercised in ExpectationsSpec
          Expectations.Fresh("odate_us", 1009843200000000L,
            31536000000000L),
          Expectations.FkExists("o_custkey",
            Tables.load(s, dir, "customer"), "c_custkey")))
      },
      Some("""SELECT 'not_null:o_custkey' AS check_name,
          (SELECT count(*) FROM orders)::BIGINT AS n_rows,
          (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
            ::BIGINT AS n_violations,
          (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
            AS pass
        UNION ALL SELECT 'unique:o_orderkey',
          (SELECT count(*) FROM orders)::BIGINT,
          ((SELECT count(o_orderkey) FROM orders) -
           (SELECT count(DISTINCT o_orderkey) FROM orders))::BIGINT,
          (SELECT count(o_orderkey) FROM orders) =
            (SELECT count(DISTINCT o_orderkey) FROM orders)
        UNION ALL SELECT 'range:price_c',
          (SELECT count(*) FROM orders)::BIGINT,
          (SELECT count(*) FROM orders WHERE
            CAST(round(o_totalprice * 100, 0) AS BIGINT) < 1 OR
            CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000)
            ::BIGINT,
          (SELECT count(*) FROM orders WHERE
            CAST(round(o_totalprice * 100, 0) AS BIGINT) < 1 OR
            CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000)
            = 0
        UNION ALL SELECT 'in_set:o_orderstatus',
          (SELECT count(*) FROM orders)::BIGINT,
          (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O'))::BIGINT,
          (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O')) = 0
        UNION ALL SELECT 'fresh:odate_us',
          (SELECT count(*) FROM orders)::BIGINT,
          (SELECT CASE WHEN max(epoch_us(o_orderdate)) >=
            1009843200000000 - 31536000000000 THEN 0 ELSE 1 END
            FROM orders)::BIGINT,
          (SELECT max(epoch_us(o_orderdate)) >=
            1009843200000000 - 31536000000000 FROM orders)
        UNION ALL SELECT 'fk:o_custkey',
          (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL)
            ::BIGINT,
          (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey))::BIGINT,
          (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey)) = 0"""
        .replaceAll("\\s+", " "))),

    // ORC FORMAT roundtrip: the events fact projected to typed
    // columns, written as ORC (Spark's second first-class columnar
    // format — the interchange path when a neighboring warehouse is
    // ORC-native), read back, and aggregated per type. The oracle
    // computes the identical aggregate straight off the parquet, so
    // any write/read fidelity loss (type mangling, row loss,
    // encoding drift) breaks the hash. Values stay exact Longs
    // (µs epochs + cents) so the roundtrip is bit-checkable; write
    // is mode=overwrite for idempotent re-runs.
    "source_orc_roundtrip" -> QueryDef(
      (s, dir) => {
        val dst = s"/tmp/graft_orc_rt_${math.abs(dir.hashCode)}"
        Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(time)").as("t_us"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .write.mode("overwrite").orc(dst)
        s.read.orc(dst)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_c"),
            min(col("t_us")).as("min_us"), max(col("t_us")).as("max_us"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_c,
          min(epoch_us(ts))::BIGINT AS min_us,
          max(epoch_us(ts))::BIGINT AS max_us
        FROM events GROUP BY 1""".replaceAll("\\s+", " "))),

    // parquet SCHEMA EVOLUTION: half the corpus written with the old
    // schema (no `source` column), half with the new one, read back
    // as ONE dataset via mergeSchema — legacy rows surface with NULL
    // in the added column instead of failing the scan or silently
    // forking the dataset. The 100 TB reality: a column added in
    // week 40 must not strand weeks 1-39. (Footer merging costs one
    // footer read per file — at scale, pin the merged schema in a
    // catalog/read-schema instead; the NULL-fill semantics this query
    // pins are identical.) Oracle models the evolved read directly.
    "source_schema_evolution" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val dst = s"/tmp/graft_evo_rt_${math.abs(dir.hashCode)}"
        d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))
          .write.mode("overwrite").parquet(s"$dst/old")
        d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .write.mode("overwrite").parquet(s"$dst/new")
        s.read.option("mergeSchema", "true")
          .parquet(s"$dst/old", s"$dst/new")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 1 THEN source END
          AS source,
        count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY 1""".replaceAll("\\s+", " "))),

    // JSONL ingestion with malformed-record quarantine — the
    // production posture for crawl data: export the corpus as JSONL,
    // PLANT deterministic garbage lines beside it (truncated records,
    // non-JSON text, bare fragments — what 100 TB of real uploads
    // contains), and prove that every clean line parses (count + id
    // checksum match the parquet source) while every planted line is
    // captured with its raw bytes, none silently dropped.
    "source_jsonl_quarantine" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val dst = s"/tmp/graft_jsonl_q_${math.abs(dir.hashCode)}"
        d.write.mode("overwrite").json(dst)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dst, "part-corrupt.json"),
          CorruptJsonlLines.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        Jsonl.quarantineSummary(
          Jsonl.readQuarantined(s, dst, d.schema), "doc_id")
      },
      Some(s"""SELECT 'clean' AS status, count(*)::BIGINT AS n_rows,
          sum(doc_id)::BIGINT AS id_sum FROM documents
        UNION ALL SELECT 'quarantined',
          ${CorruptJsonlLines.length}::BIGINT, NULL::BIGINT"""
        .replaceAll("\\s+", " "))),

    // CSV quarantine — the malformed-input trio's third plane (JSONL
    // and line protocol above): headerless CSV roundtrip with planted
    // type damage and surplus fields; every bad line lands in the
    // corrupt column, none vanish. Same from_csv pure-projection shape
    // as the Jsonl reader (no PERMISSIVE-cache trap).
    "source_csv_quarantine" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val dst = s"/tmp/graft_csv_q_${math.abs(dir.hashCode)}"
        d.write.mode("overwrite").option("header", "false").csv(dst)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dst, "part-corrupt.csv"),
          CorruptCsvLines.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        Jsonl.quarantineSummary(
          Csv.readQuarantined(s, dst, d.schema), "doc_id")
      },
      Some(s"""SELECT 'clean' AS status, count(*)::BIGINT AS n_rows,
          sum(doc_id)::BIGINT AS id_sum FROM documents
        UNION ALL SELECT 'quarantined',
          ${CorruptCsvLines.length}::BIGINT, NULL::BIGINT"""
        .replaceAll("\\s+", " "))),

    // semantic dedup (SemDeDup): k-means clusters over the embeddings,
    // keep-first verdicts on within-cluster cosine ≥ 0.3 pairs (the
    // synthetic embeddings top out at cosine ≈ 0.51 — 0.95-style
    // thresholds would be vacuously all-keep here). k-means is not
    // oracle-able → rows-only; the nClusters=1 ≡ exact all-pairs
    // differential and planted-duplicate recall are in SimilaritySpec.
    // registry config is the DEGENERATE-EXACT corner (nClusters = 1 ⇒
    // cluster-local comparison IS all-pairs), so the k-means assignment
    // + within-cluster pair scan + keep-first verdict path is
    // DuckDB-oracled: drop every id with a smaller-id neighbor at
    // cosine ≥ threshold. Multi-cluster recall (the 100 TB shape) is
    // pinned in SimilaritySpec's planted-duplicate + >2048-cluster
    // distributed-training specs.
    // The nClusters=1 corner is ALL-PAIRS by construction (that is
    // what makes it oracle-able), so its input is pinned to the
    // oracle-sized slice vec_id < 2000 — vacuous at the gates (the
    // sf0.1 fixture tops out at 2000 vectors) and binding at larger
    // probe SFs, where unbounded all-pairs would grow quadratically.
    // The SCALE configuration is dedup_semantic_scaled below.
    "dedup_semantic" -> QueryDef(
      (s, dir) => Similarity.semanticDedup(
        emb(s, dir).filter(col("vec_id") < 2000), "vec_id",
        "embedding", threshold = 0.3, nClusters = 1),
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 2000),
        p AS (SELECT a.vec_id AS id,
          list_reduce(list_transform(generate_series(1,64),
            i -> a.v[i]*b.v[i]), (x,y) -> x+y) AS dot,
          (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
           sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y)))
          AS nn
          FROM v a JOIN v b ON b.vec_id < a.vec_id),
        dropped AS (SELECT DISTINCT id FROM p
          WHERE CASE WHEN nn > 0 THEN dot / nn END >= 0.3)
        SELECT v.vec_id AS id, 0::BIGINT AS cluster,
          (dropped.id IS NULL) AS keep
        FROM v LEFT JOIN dropped ON v.vec_id = dropped.id"""
        .replaceAll("\\s+", " "))),

    // SemDeDup at its SCALE configuration: nClusters grows with the
    // corpus (ceil(n/512) — the SemDeDup-paper shape, k ∝ n), so
    // within-cluster pair work stays O(n·clusterSize) = linear while
    // the degenerate-exact twin above pins correctness. k-means is
    // not oracle-able → rows-only; the nClusters=1 ≡ all-pairs
    // differential and planted-duplicate recall live in
    // SimilaritySpec, and the r12 sf1 probe pins this config's growth
    // (the unbounded all-pairs form measured 40× at 10× volume).
    "dedup_semantic_scaled" -> QueryDef(
      (s, dir) => {
        val e = emb(s, dir)
        val n = e.count()
        Similarity.semanticDedup(e, "vec_id", "embedding",
          threshold = 0.3,
          nClusters = math.max(4, ((n + 511) / 512).toInt))
      },
      None),

    // multimodal: metadata/describe pass over binary payloads. The
    // width/height/channels/img_format columns are the REAL
    // javax.imageio header decode — deterministically null here
    // because text bytes are not an image (the decodable-payload path
    // is driver-gated by mm_image_meta below and pixel-exact in
    // MultimodalSpec).
    "mm_describe" -> QueryDef(
      (s, dir) => Multimodal.describe(Multimodal.fromBinary(
          docs(s, dir), "doc_id", col("text").cast("binary"), "image"))
        .select(col("asset_id"), col("media_type"),
          col("payload_bytes").cast("long").as("payload_bytes"),
          col("payload_md5"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("img_format")),
      Some("""SELECT doc_id AS asset_id, 'image' AS media_type,
        strlen(text)::BIGINT AS payload_bytes, md5(text) AS payload_md5,
        'stub' AS codec, NULL::BIGINT AS width, NULL::BIGINT AS height,
        NULL::BIGINT AS channels, NULL::VARCHAR AS img_format
        FROM documents""".replaceAll("\\s+", " "))),

    // multimodal: REAL PNG round-trip — the engine ImageIO-encodes one
    // genuine PNG per document with dims derived arithmetically from
    // doc_id, then ImageIO-decodes the header back. The oracle predicts
    // the same dims from doc_id alone, so a hash match proves the
    // engine performed an actual byte-level PNG encode+decode (any
    // codec bug — wrong IHDR parse, band miscount, format misdetect —
    // breaks the match).
    "mm_image_meta" -> QueryDef(
      (s, dir) => Multimodal.decodeImageMeta(Multimodal.synthPngAssets(
          docs(s, dir), "doc_id",
          lit(1) + pmod(col("doc_id"), lit(13)),
          lit(1) + pmod(col("doc_id") * 3, lit(11))))
        .select(col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("img_format")),
      Some("""SELECT doc_id AS asset_id,
        (1 + doc_id % 13)::BIGINT AS width,
        (1 + (doc_id*3) % 11)::BIGINT AS height,
        3::BIGINT AS channels, 'png' AS img_format FROM documents"""
        .replaceAll("\\s+", " "))),

    // perceptual hash over REAL decoded pixels: the engine encodes
    // planted PNGs, fully decodes them (ImageIO.read, not just the
    // header), samples an 8×8 luma grid and emits the 56-bit dHash;
    // the oracle never sees a pixel — it replays the planted
    // generator's arithmetic (RGB = (id·31+y·17+x·7) & 0xFFFFFF) at
    // the same integer sample points, so any decode/sampling drift
    // hash-mismatches. The engine side must round-trip genuine PNG
    // bytes for this row to stay green.
    // REAL audio decode: plant genuine WAV containers (16-bit mono PCM
    // with frames s(i) = ((id·31 + i·7) mod 2003) − 1001), decode them
    // through javax.sound.sampled, and aggregate the REAL decoded
    // samples; the oracle recomputes the aggregates from the recipe —
    // an engine that fakes the header or mis-parses PCM byte order
    // cannot match sum/energy/peak.
    "mm_wav_stats" -> QueryDef(
      (s, dir) => Multimodal.wavStats(Multimodal.synthWavAssets(
        docs(s, dir), "doc_id", lit(50) + pmod(col("doc_id"), lit(37)))),
      Some("""WITH g AS (SELECT doc_id, 50 + doc_id % 37 AS n
          FROM documents),
        e AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
          FROM g),
        sm AS (SELECT doc_id, n,
          ((doc_id * 31 + i * 7) % 2003) - 1001 AS s FROM e)
        SELECT doc_id AS asset_id, 8000::BIGINT AS sample_rate,
          max(n)::BIGINT AS n_frames, sum(s)::BIGINT AS sum_s,
          sum(s * s)::BIGINT AS energy, max(abs(s))::BIGINT AS peak
        FROM sm GROUP BY 1""".replaceAll("\\s+", " "))),

    // linear-interp PCM resample 8 kHz → 3 kHz over REAL decoded WAV
    // frames, kept exact by outRate scaling so the resampled stream
    // hash-matches the synth waveform's arithmetic form — the
    // rate-normalization step before audio featurization, with the
    // wavStats row-local decode discipline (payloads never shuffle).
    "mm_wav_resample" -> QueryDef(
      (s, dir) => Multimodal.wavResample(Multimodal.synthWavAssets(
        docs(s, dir), "doc_id",
        lit(50) + pmod(col("doc_id"), lit(37))), outRate = 3000),
      Some("""WITH g AS (SELECT doc_id, 50 + doc_id % 37 AS n
          FROM documents),
        mm AS (SELECT doc_id, n, ((n - 1) * 3000) // 8000 + 1 AS m
          FROM g),
        e AS (SELECT doc_id, n,
          unnest(generate_series(0, m - 1)) AS j FROM mm),
        p AS (SELECT doc_id, n, j, (j * 8000) // 3000 AS idx,
          (j * 8000) % 3000 AS frac FROM e),
        s AS (SELECT doc_id, j,
          CASE WHEN frac = 0
            THEN (((doc_id * 31 + idx * 7) % 2003) - 1001) * 3000
            ELSE (((doc_id * 31 + idx * 7) % 2003) - 1001)
              * (3000 - frac) +
              (((doc_id * 31 + (idx + 1) * 7) % 2003) - 1001) * frac
          END AS s_u FROM p)
        SELECT doc_id AS asset_id, j::BIGINT AS j, s_u::BIGINT AS s_u
        FROM s""".replaceAll("\\s+", " "))),

    "mm_phash" -> QueryDef(
      (s, dir) => Multimodal.perceptualHash(Multimodal.synthPngAssets(
        docs(s, dir), "doc_id",
        lit(1) + pmod(col("doc_id"), lit(13)),
        lit(1) + pmod(col("doc_id") * 3, lit(11)))),
      Some {
        def v(x: String) =
          s"((doc_id*31 + ((cy*h)//8)*17 + ($x)*7) & 16777215)"
        val v0 = v("(cx*w)//8")
        val v1 = v("((cx+1)*w)//8")
        s"""WITH g AS (SELECT doc_id, 1 + doc_id % 13 AS w,
            1 + (doc_id*3) % 11 AS h FROM documents),
          e AS (SELECT doc_id, w, h, cy, cx FROM g,
            (SELECT unnest(generate_series(0,7)) AS cy),
            (SELECT unnest(generate_series(0,6)) AS cx)),
          l AS (SELECT doc_id, cy, cx,
            299*(($v0 >> 16) & 255) + 587*(($v0 >> 8) & 255)
              + 114*($v0 & 255) AS l0,
            299*(($v1 >> 16) & 255) + 587*(($v1 >> 8) & 255)
              + 114*($v1 & 255) AS l1 FROM e)
          SELECT doc_id AS asset_id,
            CAST(sum(CASE WHEN l1 > l0
              THEN (1::BIGINT << (cy*7+cx)) ELSE 0 END) AS BIGINT)
              AS phash
          FROM l GROUP BY 1""".replaceAll("\\s+", " ")
      }),

    // image NEAR-DUP pairs at the hash-CLASS level: exact-duplicate
    // pHashes collapse to one representative first (a hamming-0
    // class of m assets would otherwise enumerate m²/2 pairs — the
    // quadratic blowup the dedup_exact discipline exists to avoid),
    // then ONLY the distinct-hash representatives go through the
    // Hamming-banded LSH (7 bands × 8 bits; pigeonhole guarantees
    // EXACT recall at maxHamming=2 < bands). Output: one row per
    // near-dup CLASS pair with both class sizes — the image-side
    // twin of dedup_simhash_pairs, closing the multimodal dedup loop
    // (hash → collapse → band → confirm) over the synthetic assets.
    "mm_phash_neardup" -> QueryDef(
      (s, dir) => {
        val ph = Multimodal.perceptualHash(Multimodal.synthPngAssets(
          docs(s, dir), "doc_id",
          lit(1) + pmod(col("doc_id"), lit(13)),
          lit(1) + pmod(col("doc_id") * 3, lit(11))))
        val classes = ph.groupBy(col("phash"))
          .agg(min(col("asset_id")).as("asset_id"),
            count(lit(1)).as("class_n"))
        val pairs = Dedup.hammingBandedPairs(
            classes.select(col("asset_id"), col("phash")),
            "asset_id", "phash", bits = 56, maxHamming = 2,
            bands = 7)
          .filter(col("hamming") >= 1)
        pairs
          .join(classes.select(col("asset_id").as("id_a"),
            col("class_n").as("n_a")), "id_a")
          .join(classes.select(col("asset_id").as("id_b"),
            col("class_n").as("n_b")), "id_b")
          .select(col("id_a"), col("id_b"), col("hamming"),
            col("n_a"), col("n_b"))
      },
      Some {
        def v(x: String) =
          s"((doc_id*31 + ((cy*h)//8)*17 + ($x)*7) & 16777215)"
        val v0 = v("(cx*w)//8")
        val v1 = v("((cx+1)*w)//8")
        s"""WITH g AS (SELECT doc_id, 1 + doc_id % 13 AS w,
            1 + (doc_id*3) % 11 AS h FROM documents),
          e AS (SELECT doc_id, w, h, cy, cx FROM g,
            (SELECT unnest(generate_series(0,7)) AS cy),
            (SELECT unnest(generate_series(0,6)) AS cx)),
          l AS (SELECT doc_id, cy, cx,
            299*(($v0 >> 16) & 255) + 587*(($v0 >> 8) & 255)
              + 114*($v0 & 255) AS l0,
            299*(($v1 >> 16) & 255) + 587*(($v1 >> 8) & 255)
              + 114*($v1 & 255) AS l1 FROM e),
          ph AS (SELECT doc_id AS asset_id,
            CAST(sum(CASE WHEN l1 > l0
              THEN (1::BIGINT << (cy*7+cx)) ELSE 0 END) AS BIGINT)
              AS phash
            FROM l GROUP BY 1),
          cl AS (SELECT phash, min(asset_id) AS asset_id,
            count(*)::BIGINT AS class_n FROM ph GROUP BY 1)
          SELECT a.asset_id AS id_a, b.asset_id AS id_b,
            bit_count(xor(a.phash, b.phash))::BIGINT AS hamming,
            a.class_n AS n_a, b.class_n AS n_b
          FROM cl a JOIN cl b ON a.asset_id < b.asset_id
          WHERE bit_count(xor(a.phash, b.phash)) BETWEEN 1 AND 2"""
          .replaceAll("\\s+", " ")
      }),

    // document-level MIXED-MODALITY near-dup agreement: each doc's
    // caption image (the synthetic per-doc PNG, asset_id = doc_id)
    // joined against the TEXT near-dup candidates — for every
    // simhash-banded text pair, attach both pHashes and report
    // whether the image side agrees (hamming ≤ 2). The composition a
    // caption-dedup pipeline runs before collapsing: text-only
    // near-dups with DISAGREEING images are different documents
    // sharing boilerplate, not duplicates. Scale shape: candidates
    // come ONLY from the text banding (never an image all-pairs);
    // the image evidence arrives via two id-keyed hash joins of the
    // 1-row-per-doc pHash frame. Plan-pinned cartesian-free.
    "mm_caption_agreement" -> QueryDef(
      (s, dir) => {
        val d = docs(s, dir)
        val textPairs = Dedup.simhashNearDupPairs(d, "doc_id", "text",
          maxHamming = 3, bands = 4)
          .select(col("id_a"), col("id_b"),
            col("hamming").as("text_hamming"))
        val ph = Multimodal.perceptualHash(Multimodal.synthPngAssets(
          d, "doc_id",
          lit(1) + pmod(col("doc_id"), lit(13)),
          lit(1) + pmod(col("doc_id") * 3, lit(11))))
        val ih = bit_count(col("ph_a").bitwiseXOR(col("ph_b")))
          .cast("long")
        textPairs
          .join(ph.select(col("asset_id").as("id_a"),
            col("phash").as("ph_a")), "id_a")
          .join(ph.select(col("asset_id").as("id_b"),
            col("phash").as("ph_b")), "id_b")
          .select(col("id_a"), col("id_b"), col("text_hamming"),
            ih.as("image_hamming"), (ih <= 2).as("img_agree"))
      },
      Some {
        val votes = (0 until 60)
          .map(b => s"sum(((h>>$b)&1)*2-1) AS v$b").mkString(", ")
        val packed = (0 until 60)
          .map(b => s"CASE WHEN v$b>0 THEN ${1L << b} ELSE 0 END")
          .mkString("(", " + ", ")")
        def v(x: String) =
          s"((doc_id*31 + ((cy*h)//8)*17 + ($x)*7) & 16777215)"
        val v0 = v("(cx*w)//8")
        val v1 = v("((cx+1)*w)//8")
        s"""WITH wd AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
          FROM documents),
          hh AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT AS h
          FROM wd),
          vv AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
          sh AS (SELECT doc_id AS id, $packed::BIGINT AS simhash FROM vv),
          bx AS (SELECT id, simhash, g.b AS band,
            (simhash >> (g.b*15)) & 32767 AS band_key
            FROM sh, (SELECT unnest(generate_series(0,3)) AS b) g),
          tp AS (SELECT id_a, id_b,
            bit_count(xor(sh_a, sh_b))::BIGINT AS text_hamming FROM
            (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
              a.simhash AS sh_a, b.simhash AS sh_b FROM bx a
              JOIN bx b ON a.band=b.band AND a.band_key=b.band_key
                AND a.id < b.id)
            WHERE bit_count(xor(sh_a, sh_b)) <= 3),
          g AS (SELECT doc_id, 1 + doc_id % 13 AS w,
            1 + (doc_id*3) % 11 AS h FROM documents),
          e AS (SELECT doc_id, w, h, cy, cx FROM g,
            (SELECT unnest(generate_series(0,7)) AS cy),
            (SELECT unnest(generate_series(0,6)) AS cx)),
          l AS (SELECT doc_id, cy, cx,
            299*(($v0 >> 16) & 255) + 587*(($v0 >> 8) & 255)
              + 114*($v0 & 255) AS l0,
            299*(($v1 >> 16) & 255) + 587*(($v1 >> 8) & 255)
              + 114*($v1 & 255) AS l1 FROM e),
          ph AS (SELECT doc_id AS asset_id,
            CAST(sum(CASE WHEN l1 > l0
              THEN (1::BIGINT << (cy*7+cx)) ELSE 0 END) AS BIGINT)
              AS phash
            FROM l GROUP BY 1)
          SELECT tp.id_a, tp.id_b, tp.text_hamming,
            bit_count(xor(pa.phash, pb.phash))::BIGINT AS image_hamming,
            bit_count(xor(pa.phash, pb.phash)) <= 2 AS img_agree
          FROM tp JOIN ph pa ON pa.asset_id = tp.id_a
          JOIN ph pb ON pb.asset_id = tp.id_b"""
          .replaceAll("\\s+", " ")
      }),

    // multimodal: STUB decode → deterministic fake features, exploded to
    // (asset_id, i, feature) rows.
    "mm_decode_features" -> QueryDef(
      (s, dir) => Multimodal.decodeStub(Multimodal.fromBinary(
          docs(s, dir), "doc_id", col("text").cast("binary"), "image"), 4)
        .select(col("asset_id"), posexplode(col("features")))
        .select(col("asset_id"), col("pos").cast("long").as("i"),
          col("col").as("feature")),
      Some(s"""SELECT asset_id, i::BIGINT AS i,
        (((((i+1)*${Dedup.MinhashMul}) % $P) * hp
          + ((i*${Dedup.MinhashAddMul} + ${Dedup.MinhashAddOff}) % $P))
          % $P / $P.0)::FLOAT AS feature
        FROM (SELECT doc_id AS asset_id,
          ('0x'||substr(md5(hex(text::BLOB)),1,15))::BIGINT % $P AS hp,
          unnest(generate_series(0,3)) AS i FROM documents)"""
        .replaceAll("\\s+", " "))),

    // multimodal: aspect-preserving resize plumbing (STUB codec) —
    // deterministic fake source dims, floor-scaled to a 512 max side,
    // content tag re-derived from payload+target (what a re-encode
    // would stamp).
    "mm_resize" -> QueryDef(
      (s, dir) => {
        val assets = Multimodal.fromBinary(docs(s, dir), "doc_id",
            col("text").cast("binary"), "image")
          .withColumn("meta", struct(
            (lit(200) + pmod(col("asset_id"), lit(1700)))
              .cast("int").as("width"),
            (lit(150) + pmod(col("asset_id") * 7, lit(1500)))
              .cast("int").as("height"),
            lit(null).cast("long").as("duration_ms"),
            lit("stub").as("codec")))
        Multimodal.resizeStub(assets, 512)
          .select(col("asset_id"),
            col("out_width").cast("long").as("out_width"),
            col("out_height").cast("long").as("out_height"),
            col("resized_tag"))
      },
      Some("""WITH a AS (SELECT doc_id AS asset_id,
          200 + doc_id % 1700 AS w, 150 + (doc_id*7) % 1500 AS h,
          text FROM documents),
        g AS (SELECT asset_id, w, h, greatest(w, h) AS ls, text FROM a)
        SELECT asset_id,
          (CASE WHEN ls <= 512 THEN w ELSE (w*512)//ls END)::BIGINT
            AS out_width,
          (CASE WHEN ls <= 512 THEN h ELSE (h*512)//ls END)::BIGINT
            AS out_height,
          md5(md5(text)||'#'||'512') AS resized_tag
        FROM g""".replaceAll("\\s+", " "))),

    // multimodal: frame-sampling row-explosion plumbing (STUB codec).
    "mm_sample_frames" -> QueryDef(
      (s, dir) => Multimodal.sampleFrames(Multimodal.fromBinary(
          docs(s, dir), "doc_id", col("text").cast("binary"), "video"), 3)
        .select(col("asset_id"), col("frame_no").cast("long")
          .as("frame_no"), col("frame_key")),
      Some("""SELECT asset_id, frame_no::BIGINT AS frame_no,
        asset_id::VARCHAR||'#'||frame_no::VARCHAR AS frame_key
        FROM (SELECT doc_id AS asset_id,
          unnest(generate_series(0,2)) AS frame_no FROM documents)"""
        .replaceAll("\\s+", " "))))
}
