package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrawlGraph, Tables}
import graft.ext.{DedupOps, GraphOps, MultimodalOps, SimilarityOps, TextOps}
import graft.queries.Queries.QueryDef

/** North-star extension queries (BASELINE.json): the operators a
  * large-scale LLM training-data pipeline needs, over the driver's
  * `documents` / `embeddings` tables. Oracles use the same md5-based
  * deterministic hashing on both engines (no RNG anywhere).
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** distinct word-3-gram shingles per doc, doc_id < `maxDoc`. */
  private[queries] def shingled(s: SparkSession, dir: String, maxDoc: Int): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < maxDoc)
      .select(col("doc_id"), explode(TextOps.wordNgrams(col("text"), 3)).as("shingle"))
      .distinct()

  /** SQL fragment: distinct word-3-gram shingles (tri CTE), doc_id < maxDoc. */
  private[queries] def triSql(maxDoc: Int): String =
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS toks
       |         FROM documents WHERE doc_id < $maxDoc),
       |idx AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
       |        FROM docs WHERE len(toks) >= 3),
       |tri AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |        FROM idx)""".stripMargin

  /** Recursive-CTE transitive closure over a `pairs(a, b)` CTE — the
    * shared oracle tail of every connected-components query (one source
    * of truth so the closure semantics can't silently diverge between
    * oracles). Appends CTEs `edges` and `reach(node, other)`; callers
    * SELECT `node, min(other) AS component` from `reach`. */
  private[queries] val closureSql: String =
    """edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(node, other) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.other)""".stripMargin

  // ---------- dedup ----------

  /** Exact dedup: md5 group key + keep-first marking. */
  val qDedupExact = QueryDef("q_dedup_exact",
    (s, dir) => DedupOps.markExactDups(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("dup_key"), col("is_dup"))
      .orderBy("doc_id"),
    Some(
      """SELECT doc_id, md5(text) AS dup_key,
        |       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Exact n-gram Jaccard over a bounded verification set (at scale this
    * runs only on LSH candidates — DedupOps scale note). */
  val qNgramJaccard = QueryDef("q_ngram_jaccard",
    (s, dir) => DedupOps.jaccardPairs(shingled(s, dir, 120), "doc_id", 0.0)
      .orderBy("a", "b"),
    Some(
      s"""WITH ${triSql(120)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
         |          FROM tri a JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a, b, CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |ORDER BY a, b""".stripMargin))

  private[queries] val numSeeds = 12

  /** MinHash signatures (12 seeds, md5-based min-hash over shingle sets). */
  val qMinhashSignatures = QueryDef("q_minhash_signatures",
    (s, dir) => DedupOps.minhashSignatures(shingled(s, dir, 200), "doc_id", numSeeds)
      .orderBy("doc_id", "seed"),
    Some(
      s"""WITH ${triSql(200)}
         |SELECT doc_id, CAST(s.seed AS INTEGER) AS seed,
         |       min(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS minhash
         |FROM tri, generate_series(0, ${numSeeds - 1}) s(seed)
         |GROUP BY doc_id, s.seed ORDER BY doc_id, seed""".stripMargin))

  /** SQL fragment shared by the md5-LSH oracle queries: signatures ->
    * band signatures (seed-ordered concat) for docs < maxDoc. */
  private[queries] def lshBandsSql(maxDoc: Int): String =
    s"""${triSql(maxDoc)},
       |sig AS (SELECT doc_id, CAST(s.seed AS INTEGER) AS seed,
       |          min(md5(CAST(s.seed AS VARCHAR) || ':' || shingle)) AS minhash
       |        FROM tri, generate_series(0, ${numSeeds - 1}) s(seed)
       |        GROUP BY doc_id, s.seed),
       |bands AS (SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
       |            string_agg(minhash, ',' ORDER BY seed) AS band_sig
       |          FROM sig GROUP BY doc_id, band),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.band_sig = y.band_sig
       |          AND x.doc_id < y.doc_id)""".stripMargin

  /** LSH candidate pairs, md5/oracle form: signatures -> 3 bands of 4
    * seeds -> bucket equi-join. The bucket join IS the scale trick — the
    * O(n²) pair space never materializes. */
  val qLshPairs = QueryDef("q_lsh_pairs",
    (s, dir) => {
      val sig = DedupOps.minhashSignatures(shingled(s, dir, 200), "doc_id", numSeeds)
      DedupOps.lshCandidatePairs(
        DedupOps.lshBands(sig, "doc_id", rowsPerBand = 4), "doc_id")
        .orderBy("a", "b")
    },
    Some(
      s"""WITH ${lshBandsSql(200)}
         |SELECT a, b FROM cand ORDER BY a, b""".stripMargin))

  /** LSH candidates verified by exact Jaccard routed through the pair
    * list (the `candidates` path of DedupOps.jaccardPairs — at 100 TB
    * the only affordable exact verification). */
  val qLshVerified = QueryDef("q_lsh_verified",
    (s, dir) => {
      val sh = shingled(s, dir, 200)
      val sig = DedupOps.minhashSignatures(sh, "doc_id", numSeeds)
      val cand = DedupOps.lshCandidatePairs(
        DedupOps.lshBands(sig, "doc_id", rowsPerBand = 4), "doc_id")
      DedupOps.jaccardPairs(sh, "doc_id", 0.3, candidates = Some(cand))
        .orderBy("a", "b")
    },
    Some(
      s"""WITH ${lshBandsSql(200)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
         |inter AS (SELECT c.a, c.b, count(*) AS inter
         |          FROM cand c
         |          JOIN tri ta ON ta.doc_id = c.a
         |          JOIN tri tb ON tb.doc_id = c.b AND tb.shingle = ta.shingle
         |          GROUP BY c.a, c.b)
         |SELECT i.a, i.b,
         |       CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.a
         |             JOIN sizes sb ON sb.doc_id = i.b
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= 0.3
         |ORDER BY a, b""".stripMargin))

  /** Full MinHash+LSH near-dup pipeline (signatures -> bands -> bucket
    * join) over ALL docs — the 100 TB scale path. Rows-only check: the
    * band-bucket summary (always non-empty) incl. per-bucket candidate
    * count. */
  val qMinhashLshPairs = QueryDef("q_minhash_lsh",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // corpus-scale shingle stream via window leads (TextOps.ngramRows)
      // — gram-identical to the HOF explode, ~4× faster measured
      val sh = TextOps.ngramRows(t(s, dir, "documents"), "doc_id", "text", 3)
        .select(col("doc_id"), col("gram").as("shingle"))
      val bands = DedupOps.minhashBands(sh, "doc_id", numSeeds, rowsPerBand = 4,
        hashFn = DedupOps.seedHashFast)
      bands
        .withColumn("n_bucket",
          count(lit(1)).over(Window.partitionBy("band", "band_sig")).cast("long"))
        .select("doc_id", "band", "band_sig", "n_bucket")
        .orderBy("doc_id", "band")
    },
    None)

  /** 16-bit SimHash fingerprints (md5 hex-digit parity votes). */
  val qSimhash = QueryDef("q_simhash",
    (s, dir) => DedupOps.simhash16(
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok")),
      "doc_id", "tok").orderBy("doc_id"),
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |bits AS (SELECT doc_id, j.j,
        |           (instr('0123456789abcdef', substring(md5(tok), j.j + 1, 1)) - 1) % 2 AS bit
        |         FROM toks, generate_series(0, 15) j(j)),
        |votes AS (SELECT doc_id, j, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, j)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN vote > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ---------- similarity search ----------

  /** Brute-force cosine top-10 for query vectors vec_id < 5 (broadcast
    * query side; corpus streams — the correctness baseline for ANN). */
  val qKnnCosine = QueryDef("q_knn_cosine",
    (s, dir) => SimilarityOps.knnBruteForce(
      t(s, dir, "embeddings").where(col("vec_id") < 5),
      t(s, dir, "embeddings"), 10)
      .select("query_id", "vec_id", "cos_sim", "rn")
      .orderBy("query_id", "rn"),
    Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |dots AS (SELECT q.query_id, v.vec_id,
        |    sum(CAST(q.q_emb[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS dot,
        |    sum(CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)) AS qq,
        |    sum(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS vv
        |  FROM q, embeddings v, generate_series(1, 64) t(i)
        |  GROUP BY q.query_id, v.vec_id),
        |scored AS (SELECT query_id, vec_id, round(dot / (sqrt(qq) * sqrt(vv)), 4) AS cos_sim FROM dots),
        |ranked AS (SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin))

  /** Sign-LSH bucketed ANN (deterministic pseudo-hyperplanes) — the scale
    * path: bucket equi-join instead of cross join. Rows-only. */
  val qAnnLsh = QueryDef("q_ann_lsh",
    (s, dir) => SimilarityOps.annLshTopK(
      t(s, dir, "embeddings"), bits = 8, dim = 64, k = 5)
      .select("query_id", "vec_id", "cos_sim", "rn")
      .orderBy("query_id", "rn"),
    None)

  // ---------- text analysis ----------

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** Stopword-profile language ID (argmax over per-language hit counts,
    * deterministic tie-break en,de,fr,es, 'und' when all zero). */
  val qLangId = QueryDef("q_lang_id",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val hits = TextOps.stopwords.map { case (l, ws) =>
        l -> TextOps.stopwordHits(col("text"), ws)
      }
      docs.select(col("doc_id"),
        hits("en").as("en_hits"), hits("de").as("de_hits"),
        hits("fr").as("fr_hits"), hits("es").as("es_hits"),
        TextOps.langId(col("text")).as("pred_lang"), col("lang"))
        .orderBy("doc_id")
    },
    Some {
      val h = TextOps.stopwords.map { case (l, ws) =>
        l -> s"CAST(len(list_filter(string_split(text, ' '), x -> x IN (${inList(ws)}))) AS BIGINT)"
      }
      s"""WITH scored AS (SELECT doc_id, lang,
         |  ${h("en")} AS en_hits, ${h("de")} AS de_hits,
         |  ${h("fr")} AS fr_hits, ${h("es")} AS es_hits
         |  FROM documents),
         |best AS (SELECT *, greatest(en_hits, de_hits, fr_hits, es_hits) AS best FROM scored)
         |SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
         |  CASE WHEN en_hits = best AND best > 0 THEN 'en'
         |       WHEN de_hits = best AND best > 0 THEN 'de'
         |       WHEN fr_hits = best AND best > 0 THEN 'fr'
         |       WHEN es_hits = best AND best > 0 THEN 'es'
         |       ELSE 'und' END AS pred_lang, lang
         |FROM best ORDER BY doc_id""".stripMargin
    })

  /** Quality scoring: token stats + stopword/non-alpha ratios (exact
    * integer numerators/denominators -> identical doubles). */
  val qQualityScore = QueryDef("q_quality_score",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      round(TextOps.meanTokenLen(col("text")), 4).as("mean_tok_len"),
      round(TextOps.stopwordRatio(col("text")), 4).as("stop_ratio"),
      TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some {
      val allStops = inList(TextOps.stopwords.values.flatten.toSeq.distinct)
      s"""SELECT doc_id,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |   / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS mean_tok_len,
         | round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ($allStops))) AS DOUBLE)
         |   / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stop_ratio,
         | round(0.5 * (CAST(len(list_filter(string_split(text, ' '), x -> x IN ($allStops))) AS DOUBLE)
         |   / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |   + 0.5 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE)
         |     / CAST(greatest(length(text), 1) AS DOUBLE)), 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    })

  /** Token counting: whitespace + BPE-ish regex pre-tokenizer. */
  val qTokenCount = QueryDef("q_token_count",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("ws_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))
      .orderBy("doc_id"),
    Some(
      s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '${TextOps.bpeishPattern}')) AS BIGINT) AS bpeish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin))

  /** Canonical-form document fingerprint (md5 of normalized text). */
  val qFingerprint = QueryDef("q_fingerprint",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some(
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin))

  // ---------- multimodal + full crawl (rows-only) ----------

  /** Multimodal image decode, REAL codec: per-doc PNGs are encoded and
    * then decoded with JDK `javax.imageio` inside the partition-batched
    * mapPartitions path; the emitted geometry and exact channel sums are
    * oracle-checked against the pixel-generating formula (PNG is
    * lossless, so a decoder that does not truly read pixels cannot
    * match). */
  val qMultimodalFeatures = QueryDef("q_multimodal_features",
    (s, dir) => MultimodalOps.decodeImages(s,
      MultimodalOps.imagesFromDocuments(s, t(s, dir, "documents")))
      .toDF().orderBy("doc_id"),
    Some(
      s"""WITH d AS (SELECT doc_id, doc_id % 5 + 1 AS w, doc_id % 4 + 1 AS h
         |           FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
         |px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs)
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(w * h AS BIGINT) AS n_pixels,
         |  CAST(${MultimodalOps.pixelSumSql('r')} AS BIGINT) AS sum_r,
         |  CAST(${MultimodalOps.pixelSumSql('g')} AS BIGINT) AS sum_g,
         |  CAST(${MultimodalOps.pixelSumSql('b')} AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin))

  /** End-to-end crawl pipeline (S4 admission, S3 extraction, F1-F3
    * cleaning, BFS with memoization, intended-semantics edges) over a
    * synthetic pages table derived from documents. Oracle-checked: the
    * page graph is deterministic modular arithmetic and penDepth=3
    * unrolls into three CTE hops (junk links are dropped by the same
    * blacklist/relative-gate the oracle omits by construction). */
  /** Shared crawl fixture (also used by R18's `q_edges_actual`): a
    * synthetic pages table over documents — deterministic modular link
    * graph, 404s every 17th doc, junk/external links for the cleaners. */
  private[queries] val crawlFixtureSite = "https://site.test/"

  private[queries] def crawlFixturePages(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val site = crawlFixtureSite
    val docPages = docs.select(
      concat(lit(site + "doc/"), col("doc_id").cast("string")).as("url"),
      when(col("doc_id") % 17 === 0, 404).otherwise(200).as("status"),
      concat(
        lit("<a href=\"/doc/"), ((col("doc_id") * 7 + 1) % n).cast("string"), lit("\">a</a>"),
        lit("<a href=\"/doc/"), ((col("doc_id") * 13 + 2) % n).cast("string"), lit("\">b</a>"),
        lit("<a href=\"/login/x\">junk</a><a href=\"https://other.site/\">ext</a>")
      ).as("html"))
    import s.implicits._
    val rootPage = Seq((site, 200,
      "<a href=\"/doc/0\">r0</a><a href=\"/doc/1\">r1</a><a href=\"/doc/2\">r2</a>"))
      .toDF("url", "status", "html")
    rootPage.union(docPages)
  }

  /** The fixture's cleaned-edges relation as SQL (the oracle twin of
    * what S3→F1-F3 mining extracts from [[crawlFixturePages]]). */
  private[queries] val crawlFixtureCeSql: String =
    """ce AS (
      |  SELECT 'https://site.test/' AS parent,
      |         'https://site.test/doc/' || x.c AS child
      |  FROM (VALUES ('0'), ('1'), ('2')) x(c)
      |  UNION
      |  SELECT 'https://site.test/doc/' || CAST(d.doc_id AS VARCHAR),
      |         'https://site.test/doc/' || CAST((d.doc_id * 7 + 1) % n.n AS VARCHAR)
      |  FROM documents d, n WHERE d.doc_id % 17 <> 0
      |  UNION
      |  SELECT 'https://site.test/doc/' || CAST(d.doc_id AS VARCHAR),
      |         'https://site.test/doc/' || CAST((d.doc_id * 13 + 2) % n.n AS VARCHAR)
      |  FROM documents d, n WHERE d.doc_id % 17 <> 0)""".stripMargin

  val qCrawlPipeline = QueryDef("q_crawl_pipeline",
    (s, dir) => {
      val site = crawlFixtureSite
      val (edges, _) = CrawlGraph.crawl(s, crawlFixturePages(s, dir), site,
        penDepth = 3)
      edges.orderBy("pen_depth", "parent_link", "child_link")
    },
    Some(
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |ce AS (
        |  SELECT 'https://site.test/' AS parent,
        |         'https://site.test/doc/' || x.c AS child
        |  FROM (VALUES ('0'), ('1'), ('2')) x(c)
        |  UNION
        |  SELECT 'https://site.test/doc/' || CAST(d.doc_id AS VARCHAR),
        |         'https://site.test/doc/' || CAST((d.doc_id * 7 + 1) % n.n AS VARCHAR)
        |  FROM documents d, n WHERE d.doc_id % 17 <> 0
        |  UNION
        |  SELECT 'https://site.test/doc/' || CAST(d.doc_id AS VARCHAR),
        |         'https://site.test/doc/' || CAST((d.doc_id * 13 + 2) % n.n AS VARCHAR)
        |  FROM documents d, n WHERE d.doc_id % 17 <> 0),
        |d0(url) AS (SELECT 'https://site.test/'),
        |e0 AS (SELECT 0 AS d, parent, child FROM ce JOIN d0 ON ce.parent = d0.url),
        |f1 AS (SELECT DISTINCT child AS url FROM e0
        |       WHERE child NOT IN (SELECT url FROM d0)),
        |e1 AS (SELECT 1 AS d, parent, child FROM ce JOIN f1 ON ce.parent = f1.url),
        |f2 AS (SELECT DISTINCT child AS url FROM e1
        |       WHERE child NOT IN (SELECT url FROM d0 UNION SELECT url FROM f1)),
        |e2 AS (SELECT 2 AS d, parent, child FROM ce JOIN f2 ON ce.parent = f2.url)
        |SELECT CAST(d AS INTEGER) AS pen_depth, parent AS parent_link,
        |       child AS child_link
        |FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        |ORDER BY pen_depth, parent_link, child_link""".stripMargin))

  /** Structured Streaming surface (§2.11): watermarked tumbling-window
    * aggregation over the events fixture via the file source + memory
    * sink, driven to completion synchronously. Complete output mode over
    * a finite fixture is deterministic, so the micro-batch result is
    * oracle-checked against the equivalent batch SQL (epoch-aligned
    * 5-minute buckets; decimal-exact value sum). */
  val qStreamingWindow = QueryDef("q_streaming_window",
    // 4 shuffle partitions: windowed-agg state stores are per-partition
    // fixed cost per micro-batch (32 would commit 32 stores)
    (s, dir) => Tables.streaming(s) {
      val stageDir = Tables.stageEventsDir(dir, "graft_stream_src")
      val q = graft.streaming.EventsStream.startOverNanosFixture(
        s, stageDir, "graft_stream_out")
      q.processAllAvailable(); q.stop()
      s.table("graft_stream_out")
        .select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("n").cast("long").as("n"), col("total_value"))
        .orderBy("win_us", "event_type")
    },
    Some(
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |b AS (SELECT us - us % 300000000 AS win_us, event_type, value FROM e)
        |SELECT win_us, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM b GROUP BY win_us, event_type
        |ORDER BY win_us, event_type""".stripMargin))

  /** Sessionization (batch window form; integer epoch-micros arithmetic
    * for cross-engine exactness). */
  val qSessionize = QueryDef("q_sessionize",
    (s, dir) => graft.streaming.Sessionize
      .sessions(graft.core.Tables.events(s, dir), gapMinutes = 30)
      .orderBy("user_id", "session_seq"),
    Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT user_id, event_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |      FROM e),
        |y AS (SELECT user_id, event_id, us,
        |        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM x),
        |z AS (SELECT user_id, us,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS session_seq
        |      FROM y)
        |SELECT user_id, session_seq, min(us) AS start_us, max(us) AS end_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin))

  /** Typed-Aggregator MinHash over a KeyValueGroupedDataset (the UDAF
    * surface). Rows-only: JVM MurmurHash3 has no DuckDB equivalent. */
  val qMinhashTyped = QueryDef("q_minhash_typed",
    (s, dir) => {
      import s.implicits._
      val sh = t(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(TextOps.wordNgrams(col("text"), 3)).as("shingle"))
        .as[(Long, String)]
      sh.groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.ext.MinHashAgg(8).toColumn.name("sig"))
        .toDF("doc_id", "sig")
        .select(col("doc_id"), concat_ws(",", col("sig")).as("sig"))
        .orderBy("doc_id")
    },
    None)

  /** Near-dup clustering: connected components over the shingle-overlap
    * pair graph (the final stage of the dedup pipeline — keep
    * min-doc_id per component as canonical). Iterative min-label
    * propagation, verified against a DuckDB recursive-CTE transitive
    * closure. */
  val qDedupComponents = QueryDef("q_dedup_components",
    (s, dir) => {
      val pairs = DedupOps.overlapPairs(shingled(s, dir, 120), "doc_id")
      GraphOps.connectedComponents(s, pairs).orderBy("node")
    },
    Some(
      s"""WITH RECURSIVE ${triSql(120)},
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b FROM tri a
         |          JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$closureSql
         |SELECT node, min(other) AS component FROM reach GROUP BY node
         |ORDER BY node""".stripMargin))

  /** Near-dup clustering, large-star/small-star form (Kiveris et al.
    * SoCC'14): O(log d) rounds vs O(d) for q_dedup_components' label
    * propagation — the variant for dup graphs with long chains at 100 TB.
    * Same recursive-CTE transitive-closure oracle, wider doc range. */
  val qComponentsStar = QueryDef("q_components_star",
    (s, dir) => {
      val pairs = DedupOps.overlapPairs(shingled(s, dir, 150), "doc_id")
      GraphOps.connectedComponentsStar(s, pairs).orderBy("node")
    },
    Some(
      s"""WITH RECURSIVE ${triSql(150)},
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b FROM tri a
         |          JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$closureSql
         |SELECT node, min(other) AS component FROM reach GROUP BY node
         |ORDER BY node""".stripMargin))

  /** The dedup pipeline's final step: canonicalization. Components over
    * the shingle-overlap graph -> min doc_id per component = canonical
    * survivor; every doc maps to its canonical (itself if unique) with a
    * dup flag. Smaller doc range than q_dedup_components — this query is
    * about the keep-one-per-cluster join-back, not the clustering. */
  val qDedupCanonical = QueryDef("q_dedup_canonical",
    (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 80)
        .select("doc_id")
      val pairs = DedupOps.overlapPairs(shingled(s, dir, 80), "doc_id")
      val comp = GraphOps.connectedComponents(s, pairs)
      docs.join(comp, docs("doc_id") === comp("node"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical"))
        .withColumn("is_dup", (col("doc_id") =!= col("canonical")).cast("int"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE ${triSql(80)},
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b FROM tri a
         |          JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |$closureSql,
         |comp AS (SELECT node, min(other) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical,
         |  CAST(CASE WHEN coalesce(c.component, d.doc_id) <> d.doc_id
         |       THEN 1 ELSE 0 END AS INTEGER) AS is_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 80) d
         |LEFT JOIN comp c ON c.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin))

  /** IVF ANN: deterministic k-means centroids + multi-probe bucket
    * search. Rows-only (approximate by construction); the recall@5
    * contract vs exact brute force lives in RowsOnlyContractSpec.
    * nprobe=5 of k=8 buckets: recall climbs steeply with probes while
    * the candidate set stays ~nprobe/k of the corpus — the standard
    * IVF quality/throughput dial. */
  val qAnnIvf = QueryDef("q_ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = graft.ext.IvfAnn.trainCentroids(emb, k = 8, iters = 5)
      graft.ext.IvfAnn.ivfTopK(emb.where(col("vec_id") < 5), emb,
        centroids, k = 5, nprobe = 5)
        .select("query_id", "vec_id", "cos_sim", "rn")
        .orderBy("query_id", "rn")
    },
    None)

  val all: Seq[QueryDef] = Seq(
    qDedupExact, qNgramJaccard, qMinhashSignatures, qMinhashLshPairs,
    qLshPairs, qLshVerified,
    qSimhash, qKnnCosine, qAnnLsh, qLangId, qQualityScore, qTokenCount,
    qFingerprint, qMultimodalFeatures, qCrawlPipeline, qStreamingWindow,
    qSessionize, qMinhashTyped, qDedupComponents, qComponentsStar,
    qDedupCanonical, qAnnIvf)
}
