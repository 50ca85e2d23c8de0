package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Features, Labeler, Pipeline, Structure}
import graft.ops.{Bpe, C4, Chunker, CorpusClean, Decontam, Dedup, Dsir, Gopher, LangModel, MainContent, Par, Passage, Ppx, QualityModel, Search, Sft, Similarity, TextNorm, TextStats, UrlOps, Winnow}
import graft.text.TextCols

/**
 * Driver-checked operator queries (SURVEY.md §2 inventory + training-data
 * pipeline operators) with DuckDB oracle SQL. Column names and value
 * rounding are aligned between the Spark plan and the oracle — the driver
 * sorts columns by name and hashes values.
 *
 * Layout: relational baselines (q*), extraction operators (f/s/w/a/k per
 * SURVEY §2 ids), dedup_*, sim_*, text_*.
 */
object Queries {

  // Memoized table handles (a catalog, in effect): `s.read.parquet` runs a
  // schema-inference job and builds a fresh FileIndex on EVERY call, and the
  // query set calls t() several times per query. Reusing the DataFrame
  // handle reuses the resolved schema + file listing; it caches a PLAN, not
  // data — every action still computes from the parquet files.
  // Contract (same as a real catalog's cached FileIndex): input dirs are
  // immutable for the lifetime of a session — rewriting the part files
  // under a cached path requires a new SparkSession (true of every driver
  // main, which reads a fixed test-data dir). Entries are keyed by session
  // and live for the JVM; the map stays a few dozen handles per session.
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    tables.computeIfAbsent((s, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))

  /** Transcripts view over documents (same derivation as [[transcriptsCte]]). */
  def transcripts(s: SparkSession, dir: String): DataFrame =
    Structure.transcriptsFromDocuments(t(s, dir, "documents"))

  /** [[transcripts]] clustered by conv_id up front (the
   * [[graft.ops.Par.clusterBy]] guard the flagship pipeline already
   * applies) — for the heavy window-cascade consumers (structure →
   * features → zones) whose every window key starts with conv_id: the
   * user exchange replaces the planner's ENSURE_REQUIREMENTS exchange
   * (same shuffle count at any scale) and AQE will not coalesce it below
   * session parallelism, so the compute-heavy cascade stays parallel on a
   * single-split local corpus. NOT used where consumers union or re-key
   * the frame (agent/sft queries): there the pinned exchange cannot be
   * reused and is a pure tax. */
  private def convTranscripts(s: SparkSession, dir: String): DataFrame =
    Par.clusterBy(transcripts(s, dir), "conv_id")

  /** ANN sweep operating points, shared by the Spark query and the oracle
   * generator: (planes, tables, multiProbe) for SRP; nProbe for IVF at 16
   * cells. */
  private val annSrpConfigs: Seq[(Int, Int, Boolean)] =
    Seq((8, 1, false), (8, 2, false), (8, 4, false), (8, 4, true),
      (12, 4, false), (6, 8, true), (4, 8, true))
  private val annIvfProbes: Seq[Int] = Seq(1, 2, 4, 8, 12)

  /** Recall@5 of each ANN operating point against brute force over the
   * embeddings table (20 query vectors). One row per configuration:
   * (method, p1, p2, recall_bp). */
  private def simAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 20)
    val truth = graft.extract.Chunked.barrier(
      Similarity.bruteForceTopK(e, q, k = 5)
        .select("query_id", "neighbor_id"))
    def recall(method: String, p1: Int, p2: Int, approx: DataFrame): DataFrame = {
      val hits = approx.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
      val tot = truth.agg(count(lit(1)).as("n_true"))
      hits.crossJoin(tot).select(lit(method).as("method"),
        lit(p1).cast("int").as("p1"), lit(p2).cast("int").as("p2"),
        expr("(n_hit * 10000) div n_true").cast("long").as("recall_bp"))
    }
    val rows =
      annSrpConfigs.map { case (pl, tb, mp) =>
        recall(if (mp) "srp_mp" else "srp", pl, tb,
          Similarity.lshTopK(e, q, k = 5, planes = pl, multiProbe = mp,
            tables = tb))
      } ++ annIvfProbes.map { np =>
        recall("ivf", 16, np,
          Similarity.ivfTopK(e, q, k = 5, nCentroids = 16, nProbe = np))
      }
    rows.reduce(_.unionByName(_))
  }

  /** Shared by zone_eval_report / zone_eval_floors: segmenter gold corpus
   * → content zoner → (gold, predicted) pairs → eval.txt-style table. */
  private def zoneEvalReport(s: SparkSession): DataFrame = {
    val gold = graft.extract.Eval.segGoldLines(s)
    val pred = Labeler.zonesContent(
      gold.select("conv_id", "turn_idx", "line_in_turn", "line"))
    val pairs = pred.select(col("conv_id"), col("turn_idx"), col("zone"))
      .join(gold.select("conv_id", "turn_idx", "gold"),
        Seq("conv_id", "turn_idx"))
    graft.extract.Eval.labelReport(pairs, "gold", "zone")
  }

  /** DuckDB CTE mirroring [[Structure.transcriptsFromDocuments]]. */
  private val transcriptsCte =
    """transcripts AS (
      |  SELECT 'conv' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
      |         CAST(doc_id % 10 AS INT) AS turn_idx,
      |         CASE WHEN doc_id % 10 = 0 THEN 'system'
      |              WHEN doc_id % 2 = 1 THEN 'user'
      |              ELSE 'assistant' END AS role,
      |         text,
      |         CASE WHEN doc_id % 5 = 4 THEN 'search' ELSE NULL END AS tool,
      |         TIMESTAMP '2026-01-01 00:00:00'
      |           + (doc_id % 10) * INTERVAL 1 SECOND AS ts
      |  FROM documents)""".stripMargin

  /** Spark-side token explode used by token-level queries (same output). */
  private def tokensOf(s: SparkSession, dir: String): DataFrame =
    Structure.tokens(convTranscripts(s, dir))

  /** Full-fidelity mirror of [[Structure.lines]]: explode turns on
   * newlines, drop blank lines, assign paragraph blocks at blank→non-blank
   * transitions, and mark the F1 noise filter — `klines` ≡ the engine's
   * line grain on ANY corpus, not just the driver's single-line-per-turn
   * generated shape. `line_idx` restarts per block (pre-filter grain, as
   * sizeGuard counts blocks over it). Requires [[transcriptsCte]].
   *
   * Mirror-fidelity tiers (established by the adversarial-corpus audit,
   * BASELINE.md round-5 closing): the structural mirrors built on this CTE
   * (f1_filter_lines, f5_size_guard, s2_tokenize, scalar_features,
   * w2_statuses[_chunked], w5_font_status, w8_positions) are
   * any-corpus-exact. The zone/TEI/24-col mirrors (a7_zone_segments,
   * k2_zone_spans, w11_zones_content, tei_documents, blank_body_tei,
   * k1_feature_vectors) intentionally encode the driver corpus's
   * single-line-per-turn shape: their multi-line semantics run through the
   * trained FSM labeler (not SQL-expressible) and are pinned instead by the
   * byte-exact multi-line fixture corpus (AssemblyFixtureSpec,
   * SegFeatureFixtureSpec, BodyFeatureFixtureSpec) and by the
   * corpus-agnostic invariant oracles (doc_rebuild_diff et al. — green on
   * the adversarial corpus too). */
  private val keptLinesCtes =
    """lraw AS (
      |  SELECT conv_id, turn_idx, role, tool,
      |         CAST(unnest(range(len(lsx))) AS INT) AS line_in_turn,
      |         unnest(lsx) AS line
      |  FROM (SELECT conv_id, turn_idx, role, tool,
      |          string_split(coalesce(text, ''), chr(10)) AS lsx
      |        FROM transcripts)),
      |lblank AS (SELECT *, trim(line, ' ') = '' AS blank FROM lraw),
      |lnb AS (
      |  SELECT *, CASE WHEN NOT blank AND coalesce(lag(blank) OVER
      |      (PARTITION BY conv_id, turn_idx ORDER BY line_in_turn), TRUE)
      |    THEN 1 ELSE 0 END AS new_block
      |  FROM lblank),
      |klines AS (
      |  SELECT conv_id, turn_idx, role, tool, line_in_turn, line, block_idx,
      |    CAST(row_number() OVER (PARTITION BY conv_id, turn_idx, block_idx
      |      ORDER BY line_in_turn) - 1 AS INT) AS line_idx,
      |    NOT (contains(line, '@IMAGE') OR contains(line, '@PAGE') OR
      |         contains(line, '.pbm') OR contains(line, '.svg') OR
      |         contains(line, '.png') OR contains(line, '.jpg')) AS kept
      |  FROM (
      |    SELECT *, CAST(SUM(new_block) OVER (PARTITION BY conv_id, turn_idx
      |        ORDER BY line_in_turn ROWS UNBOUNDED PRECEDING) - 1 AS INT)
      |      AS block_idx
      |    FROM lnb WHERE NOT blank))""".stripMargin

  /** Kept lines surviving [[graft.extract.Features.segmenter]]'s
   * `f_string` filter: collapse space/tab/FF/NBSP runs, ASCII-space trim,
   * first token, strip residual [ \n\r] — lines whose first token is
   * empty (e.g. a lone tab) never reach the line featurizer. Requires
   * [[keptLinesCtes]]. */
  private val segLinesCte =
    """slines AS (
      |  SELECT * FROM (
      |    SELECT *, regexp_replace(coalesce(
      |        string_split(trim(regexp_replace(line, '[ \t\f\x{00a0}]+', ' ', 'g'),
      |                          ' '), ' ')[1], ''),
      |      '[ \n\r]', '', 'g') AS f_string
      |    FROM klines WHERE kept)
      |  WHERE f_string <> '')""".stripMargin

  /** Per-kept-line delimiter tokenization (mirrors
   * [[Structure.tokensFromLines]]' token/tok_idx grain: `tok_idx` restarts
   * per line): pad every delimiter char with spaces, split on the
   * tokenizer's whitespace class — equivalent to graft.text.Tok for the
   * token sequence (separators aside). Requires [[keptLinesCtes]]. */
  private val lineToksCte =
    """ltoks AS (
      |  SELECT conv_id, turn_idx, line_in_turn, block_idx, line_idx,
      |         unnest(tks) AS tok,
      |         CAST(unnest(range(len(tks))) AS INT) AS tok_idx
      |  FROM (
      |    SELECT conv_id, turn_idx, line_in_turn, block_idx, line_idx,
      |           list_filter(string_split_regex(
      |             regexp_replace(line, '([(\[•*,:;?.!/)\-–−‐«»„”“‘’''`$\]"])',
      |                            ' \1 ', 'g'),
      |             '[ \n\r\t\f\x{00a0}]+'), x -> x <> '') AS tks
      |    FROM klines WHERE kept))""".stripMargin

  /** Shared mirror for w2_statuses and its chunk-parallel twin: token-level
   * block/line boundary statuses from conv-ordered adjacency over the
   * line-grain token stream (Features.adjacent semantics). */
  private lazy val w2StatusesSql =
      s"""WITH $transcriptsCte, $keptLinesCtes, $lineToksCte,
         |x AS (
         |  SELECT conv_id, turn_idx, tok_idx,
         |    CAST(turn_idx AS VARCHAR) || '#' || CAST(block_idx AS VARCHAR) AS bk,
         |    CAST(turn_idx AS VARCHAR) || '#' || CAST(line_in_turn AS VARCHAR) AS lk,
         |    line_in_turn
         |  FROM ltoks),
         |y AS (
         |  SELECT conv_id, turn_idx, tok_idx,
         |    coalesce(lag(bk) OVER wc <> bk, TRUE) AS first_b,
         |    coalesce(lead(bk) OVER wc <> bk, TRUE) AS last_b,
         |    coalesce(lag(lk) OVER wc <> lk, TRUE) AS first_l,
         |    coalesce(lead(lk) OVER wc <> lk, TRUE) AS last_l,
         |    lead(tok_idx) OVER wc IS NULL AS conv_last
         |  FROM x
         |  WINDOW wc AS (PARTITION BY conv_id
         |                ORDER BY turn_idx, line_in_turn, tok_idx))
         |SELECT conv_id, turn_idx, tok_idx,
         |  CASE WHEN first_b THEN 'BLOCKSTART'
         |       WHEN last_b AND NOT conv_last THEN 'BLOCKEND'
         |       ELSE 'BLOCKIN' END AS block_status,
         |  CASE WHEN first_b THEN 'LINESTART'
         |       WHEN last_b AND NOT conv_last THEN 'LINEEND'
         |       WHEN first_l THEN 'LINESTART'
         |       WHEN last_l AND NOT conv_last THEN 'LINEEND'
         |       ELSE 'LINEIN' END AS line_status
         |FROM y""".stripMargin

  /** Documents with a deterministic shared footer line planted (5 footer
   * variants, each in 1/5 of the corpus) — the boilerplate-census corpus. */
  private def boilerCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit("\nCopyright Lot Catalogue "),
        (col("doc_id") % 5).cast("string")).as("text"))

  private val boilerCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text || chr(10) || 'Copyright Lot Catalogue ' ||
      |         CAST(doc_id % 5 AS VARCHAR) AS text
      |  FROM documents)""".stripMargin

  /** Embeddings with planted semantic twins: every vec_id < 20 appears
   * again as vec_id + 10000 with the identical vector. */
  private def dupEmbCorpus(s: SparkSession, dir: String): DataFrame = {
    // no spread here: cellAssignments/semDedupEdges spread internally
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionByName(e.where(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
  }

  private val dupEmbCte =
    """emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id < 20)""".stripMargin

  /** Agent-trajectory transcripts: tool CALL turns (assistant, `tool` set)
   * at turn 2 and 6, adjacent RESULT turns (`role='tool'`) at 3 and 7,
   * with planted anomalies — a mismatched result tool name in convs ≡2
   * (mod 5) (orphan + dangling), a mistagged tool on the user turn 9 in
   * convs ≡3 (mod 7), and a 4-turn identical-assistant loop in convs ≡1
   * (mod 4). Mirrors [[agentCte]]. */
  private def agentTranscripts(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val cn = (col("doc_id") / 10).cast("long")
    val k = (col("doc_id") % 10).cast("int")
    val tname = when(cn % 2 === 0, "search").otherwise("browse")
    d.select(
      concat(lit("conv"), cn.cast("string")).as("conv_id"),
      k.as("turn_idx"),
      when(k === 0, "system")
        .when(k.isin(2, 4, 6, 8), "assistant")
        .when(k.isin(3, 7), "tool")
        .otherwise("user").as("role"),
      when(k.isin(2, 4, 6, 8) && cn % 4 === 1, "loop loop loop")
        .otherwise(col("text")).as("text"),
      when(k.isin(2, 6), tname)
        .when(k === 3, when(cn % 5 === 2, "bad").otherwise(tname))
        .when(k === 7, tname)
        .when(k === 9 && cn % 7 === 3, "stray")
        .as("tool"),
      (lit("2026-01-01 00:00:00").cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
          k.cast("double"))).as("ts"))
  }

  /** [[agentTranscripts]] with turn 5 re-roled 'assistant' in convs ≡0
   * (mod 3), planting consecutive same-role runs for [[graft.ops.Agent.repair]]
   * to merge. Mirrors the `a2` CTE in the agent_repair oracle. */
  private def messyAgentTranscripts(s: SparkSession, dir: String): DataFrame = {
    val convN = substring(col("conv_id"), 5, 18).cast("long")
    agentTranscripts(s, dir).withColumn("role",
      when(col("turn_idx") === 5 && convN % 3 === 0, "assistant")
        .otherwise(col("role")))
  }

  /** DuckDB CTE mirroring [[agentTranscripts]]. */
  private val agentCte =
    """agent AS (
      |  SELECT 'conv' || CAST(doc_id // 10 AS VARCHAR) AS conv_id,
      |         CAST(doc_id % 10 AS INT) AS turn_idx,
      |         CASE WHEN doc_id % 10 = 0 THEN 'system'
      |              WHEN doc_id % 10 IN (2, 4, 6, 8) THEN 'assistant'
      |              WHEN doc_id % 10 IN (3, 7) THEN 'tool'
      |              ELSE 'user' END AS role,
      |         CASE WHEN doc_id % 10 IN (2, 4, 6, 8) AND (doc_id // 10) % 4 = 1
      |              THEN 'loop loop loop' ELSE text END AS text,
      |         CASE WHEN doc_id % 10 IN (2, 6) THEN
      |                CASE WHEN (doc_id // 10) % 2 = 0 THEN 'search' ELSE 'browse' END
      |              WHEN doc_id % 10 = 3 THEN
      |                CASE WHEN (doc_id // 10) % 5 = 2 THEN 'bad'
      |                     WHEN (doc_id // 10) % 2 = 0 THEN 'search' ELSE 'browse' END
      |              WHEN doc_id % 10 = 7 THEN
      |                CASE WHEN (doc_id // 10) % 2 = 0 THEN 'search' ELSE 'browse' END
      |              WHEN doc_id % 10 = 9 AND (doc_id // 10) % 7 = 3 THEN 'stray'
      |              ELSE NULL END AS tool,
      |         TIMESTAMP '2026-01-01 00:00:00'
      |           + (doc_id % 10) * INTERVAL 1 SECOND AS ts
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Similarity.cellAssignments]] over `emb`
   * (size-windowed, maxCell 1000). */
  private val semAssignCte =
    """cents AS (
      |  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
      |  FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (
      |  SELECT vec_id, embedding, cell FROM (
      |    SELECT e.vec_id, e.embedding, ct.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_cosine_similarity(e.embedding::DOUBLE[], ct.cv), 4) DESC,
      |        ct.cell DESC) AS rn
      |    FROM emb e CROSS JOIN cents ct)
      |  WHERE rn = 1),
      |sz AS (SELECT *, count(*) OVER (PARTITION BY cell) AS csz FROM assign),
      |sempairs AS (
      |  SELECT l.vec_id AS a, r.vec_id AS b,
      |    round(list_cosine_similarity(l.embedding::DOUBLE[],
      |                                 r.embedding::DOUBLE[]), 4) AS cosine
      |  FROM sz l JOIN sz r ON l.cell = r.cell AND l.vec_id < r.vec_id
      |  WHERE l.csz <= 1000
      |    AND round(list_cosine_similarity(l.embedding::DOUBLE[],
      |                                     r.embedding::DOUBLE[]), 4) >= 0.95)""".stripMargin

  /** Documents with one email, one IPv4, and one phone number planted. */
  private def piiCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com from 10.0.0."), (col("doc_id") % 200).cast("string"),
        lit(" call 555-123-4567")).as("text"))

  private val piiCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR) ||
      |         '@example.com from 10.0.0.' || CAST(doc_id % 200 AS VARCHAR) ||
      |         ' call 555-123-4567' AS text
      |  FROM documents)""".stripMargin

  /** Sixteen deterministic hosts over eight registrable domains — the
   * URL-ops corpus. Includes the planted multi-level public-suffix cases
   * (com.au, co.jp, gouv.fr and the three-level k12.ca.us) the pre-PSL
   * heuristic got wrong, plus bare two-label hosts. */
  private val urlHosts = Seq(
    "www.alpha.com", "m.alpha.com", "news.beta.co.uk", "www.beta.co.uk",
    "gamma.org", "blog.gamma.org", "a.b.delta.net", "delta.net",
    "cdn.epsilon.io", "epsilon.io",
    "shop.zeta.com.au", "zeta.com.au", "blog.eta.co.jp",
    "portal.theta.gouv.fr", "dist.k12.ca.us", "school.dist.k12.ca.us")

  private def urlCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://"),
        element_at(array(urlHosts.map(lit): _*),
          (col("doc_id") % urlHosts.size + 1).cast("int")),
        lit("/page/"), col("doc_id").cast("string")).as("url"))

  private val urlCorpusCte =
    s"""urls AS (
       |  SELECT doc_id, 'https://' ||
       |    [${urlHosts.map("'" + _ + "'").mkString(", ")}]
       |      [CAST(doc_id % ${urlHosts.size} AS INT) + 1] ||
       |    '/page/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents)""".stripMargin

  /** DuckDB mirror of [[graft.ops.UrlOps.host]]+[[graft.ops.UrlOps.registrableDomain]]
   * — the suffix IN-lists come from the SAME resource the Spark side loads. */
  private val urlDomainsCte = {
    val s2 = graft.ops.UrlOps.publicSuffixes2.map("'" + _ + "'").mkString(", ")
    val s3 = graft.ops.UrlOps.publicSuffixes3.map("'" + _ + "'").mkString(", ")
    s"""doms AS (
       |  SELECT doc_id, host,
       |    CASE WHEN len(p) <= 2 THEN host
       |         WHEN len(p) >= 4
       |              AND array_to_string(p[len(p)-2: len(p)], '.') IN ($s3)
       |           THEN array_to_string(p[len(p)-3: len(p)], '.')
       |         WHEN array_to_string(p[len(p)-1: len(p)], '.') IN ($s2)
       |           THEN array_to_string(p[len(p)-2: len(p)], '.')
       |         ELSE array_to_string(p[len(p)-1: len(p)], '.') END AS domain
       |  FROM (
       |    SELECT doc_id, host, string_split(host, '.') AS p FROM (
       |      SELECT doc_id, lower(regexp_extract(url,
       |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host
       |      FROM urls)))""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Similarity.kmeans]] (k=4, 2 Lloyd
   * iterations) over `embeddings`: deterministic hash-sample init, best
   * cell by (round(cosine,4), cell) descending, per-dimension means
   * rounded to 6dp each round. */
  private val kmeansCtes =
    """cents0 AS (
      |  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |a1 AS (
      |  SELECT vec_id, embedding FROM embeddings),
      |as1 AS (
      |  SELECT vec_id, embedding, cell FROM (
      |    SELECT a.vec_id, a.embedding, c.cell, row_number() OVER (
      |      PARTITION BY a.vec_id ORDER BY
      |        round(list_cosine_similarity(a.embedding::DOUBLE[], c.cv), 4) DESC,
      |        c.cell DESC) AS rn
      |    FROM a1 a CROSS JOIN cents0 c) WHERE rn = 1),
      |d1 AS (
      |  SELECT cell, embedding, unnest(generate_series(1, len(embedding))) AS i
      |  FROM as1),
      |m1 AS (
      |  SELECT cell, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS m,
      |         count(*) AS n
      |  FROM d1 GROUP BY 1, 2),
      |cents1 AS (
      |  SELECT cell, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cell),
      |as2 AS (
      |  SELECT vec_id, embedding, cell FROM (
      |    SELECT a.vec_id, a.embedding, c.cell, row_number() OVER (
      |      PARTITION BY a.vec_id ORDER BY
      |        round(list_cosine_similarity(a.embedding::DOUBLE[], c.cv), 4) DESC,
      |        c.cell DESC) AS rn
      |    FROM a1 a CROSS JOIN cents1 c) WHERE rn = 1),
      |d2 AS (
      |  SELECT cell, embedding, unnest(generate_series(1, len(embedding))) AS i
      |  FROM as2),
      |m2 AS (
      |  SELECT cell, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS m,
      |         count(*) AS n
      |  FROM d2 GROUP BY 1, 2)""".stripMargin

  /** Documents with planted repeated passages: every doc_id % 7 == 3 doc
   * repeats its own text (within-doc duplicate), and every doc_id < 20 doc
   * appears again verbatim at doc_id + 10000 (cross-doc duplicate). */
  private def passageCorpus(s: SparkSession, dir: String): DataFrame = {
    // Par.spread: the n-gram window explode below is the heavy map stage —
    // a single-split local scan would serialize it onto one task (no-op on
    // multi-split inputs, guide §2.5 "input skew")
    val d = Par.spread(t(s, dir, "documents")).select(col("doc_id"),
      when(col("doc_id") % 7 === 3, concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    d.unionByName(d.where(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** Documents with deterministic repetition planted so every Gopher
   * repetition metric fires: 1/5 of docs get a tripled line, 1/5 a
   * doubled paragraph, 1/5 a six-fold repeated 5-word phrase. */
  private def repCorpus(s: SparkSession, dir: String): DataFrame =
    // no spread: every TIMED consumer of this corpus is count-pruned (the
    // bench action never computes the repetition metrics), so an exchange
    // here is a pure tax on the measured path; the untimed full dumps are
    // parallel enough via their own aggregation shuffles
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"),
        lit("\nsame line twice\nsame line twice\nsame line twice")))
      .when(col("doc_id") % 5 === 1, concat(col("text"),
        lit("\n\nrepeated paragraph block\n\nrepeated paragraph block")))
      .when(col("doc_id") % 5 === 2, concat(col("text"),
        lit(" alpha beta gamma delta epsilon" * 6)))
      .otherwise(col("text")).as("text"))

  private val repCorpusCte =
    """rdocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text ||
      |           repeat(chr(10) || 'same line twice', 3)
      |         WHEN doc_id % 5 = 1 THEN text ||
      |           repeat(chr(10) || chr(10) || 'repeated paragraph block', 2)
      |         WHEN doc_id % 5 = 2 THEN text ||
      |           repeat(' alpha beta gamma delta epsilon', 6)
      |         ELSE text END AS text
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of [[Gopher.repetitionStats]] over `src` (doc_id,
   * text): one stats query (doc_id + 13 metric columns), generated so the
   * 9 per-n gram blocks stay in lockstep with the Spark definitions.
   * `extraCtes` prepends source-defining CTEs (default: the planted
   * repetition corpus). */
  private def gopherRepStatsSql(src: String = "rdocs",
      extraCtes: String = repCorpusCte + ","): String = {
    def charsum(a: String) =
      s"coalesce(list_aggregate(list_transform($a, x -> length(x)), 'sum'), 0)"
    def gram(n: Int) =
      s"""    CASE WHEN len(ws) < $n THEN [coalesce(array_to_string(ws, ' '), '')]
         |         ELSE list_transform(generate_series(0, len(ws) - $n),
         |                i -> array_to_string(list_slice(ws, i + 1, i + $n), ' '))
         |    END AS g$n""".stripMargin
    def dupCharFrac(a: String, outName: String) =
      s"""    CASE WHEN ${charsum(a)} > 0 THEN ${r4(
               s"${charsum(a)} - ${charsum(s"list_distinct($a)")}",
               charsum(a))} ELSE 0.0 END AS $outName""".stripMargin
    def dupCountFrac(a: String, outName: String) =
      s"""    CASE WHEN len($a) > 0 THEN ${r4(
               s"len($a) - len(list_distinct($a))", s"len($a)")}
         |      ELSE 0.0 END AS $outName""".stripMargin
    def topBlock(n: Int) =
      s"""c$n AS (SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(g$n) AS g FROM sh) GROUP BY 1, 2),
         |t$n AS (SELECT doc_id, coalesce(sum(c * length(g)), 0) AS total
         |  FROM c$n GROUP BY 1),
         |r$n AS (SELECT doc_id, c * length(g) AS mass, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY c DESC, length(g) DESC, g DESC) AS rn
         |  FROM c$n),
         |top$n AS (SELECT r.doc_id,
         |    CASE WHEN t.total > 0 THEN ${r4("r.mass", "t.total")}
         |         ELSE 0.0 END AS top_${n}gram_char_frac
         |  FROM r$n r JOIN t$n t USING (doc_id) WHERE r.rn = 1)""".stripMargin
    val norm = "l -> regexp_replace(lower(trim(l, ' ')), '\\s+', ' ', 'g')"
    s"""WITH $extraCtes
       |base AS (
       |  SELECT doc_id, coalesce(text, '') AS text,
       |    list_filter(string_split_regex(lower(trim(coalesce(text, ''), ' ')),
       |                                   '\\s+'), w -> w <> '') AS ws
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id, ws,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |      $norm), l -> l <> '') AS ls,
       |    list_filter(list_transform(string_split(text, chr(10) || chr(10)),
       |      $norm), l -> l <> '') AS ps,
       |${(2 to 10).map(gram).mkString(",\n")}
       |  FROM base),
       |d AS (
       |  SELECT doc_id,
       |${dupCountFrac("ls", "dup_line_frac")},
       |${dupCharFrac("ls", "dup_line_char_frac")},
       |${dupCountFrac("ps", "dup_para_frac")},
       |${dupCharFrac("ps", "dup_para_char_frac")},
       |${(5 to 10).map(n => dupCharFrac(s"g$n", s"dup_${n}gram_char_frac"))
           .mkString(",\n")}
       |  FROM sh),
       |${Seq(2, 3, 4).map(topBlock).mkString(",\n")}
       |SELECT d.doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
       |  dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
       |  top_4gram_char_frac, dup_5gram_char_frac, dup_6gram_char_frac,
       |  dup_7gram_char_frac, dup_8gram_char_frac, dup_9gram_char_frac,
       |  dup_10gram_char_frac
       |FROM d JOIN top2 USING (doc_id) JOIN top3 USING (doc_id)
       |       JOIN top4 USING (doc_id)""".stripMargin
  }

  /** Documents with deterministic C4 violations planted: lorem ipsum,
   * a curly brace, a blocklisted word, or a too-short page. Each planted
   * line ends in a period with ≥5 words so it survives the line filter
   * and reaches the page rule it is meant to trip. */
  private def c4Corpus(s: SparkSession, dir: String): DataFrame =
    Par.spread(t(s, dir, "documents")).select(col("doc_id"),
      when(col("doc_id") % 7 === 1, concat(col("text"),
        lit("\nThis page includes Lorem Ipsum placeholder filler text.")))
      .when(col("doc_id") % 7 === 2, concat(col("text"),
        lit("\nAn inline config block { appears within this sentence.")))
      .when(col("doc_id") % 7 === 3, concat(col("text"),
        lit("\nSpam text mentions viagra among five other words.")))
      .when(col("doc_id") % 7 === 4, lit("One short sentence only here."))
      .otherwise(col("text")).as("text"))

  private val c4CorpusCte =
    """cdocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 1 THEN text || chr(10) ||
      |           'This page includes Lorem Ipsum placeholder filler text.'
      |         WHEN doc_id % 7 = 2 THEN text || chr(10) ||
      |           'An inline config block { appears within this sentence.'
      |         WHEN doc_id % 7 = 3 THEN text || chr(10) ||
      |           'Spam text mentions viagra among five other words.'
      |         WHEN doc_id % 7 = 4 THEN 'One short sentence only here.'
      |         ELSE text END AS text
      |  FROM documents)""".stripMargin

  /** Constant duplicate text for the web-curation dedup stage: three
   * sentences, 30+ distinct words, clean under every earlier filter. */
  private val webDupText =
    "Auction catalogues describe antique furniture with careful provenance " +
    "notes today. Experienced buyers inspect veneer condition and original " +
    "hardware before bidding starts. Regional sale rooms publish estimates " +
    "that guide collectors through uncertain markets."

  /** Documents reshaped into web-page-like text (sentences with terminal
   * punctuation) plus planted violations so every web-curation stage
   * fires: %13==1 a blocklist word, ==2 a curly brace, ==3 an exact
   * duplicate, ==4 a tripled line (repetition rule). */
  private def webCorpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val base = concat(lit("Intro sentence for doc "), id, lit(". "),
      col("text"), lit(". End of document "), id, lit("."))
    val repLine = "Same repeated filler line over here."
    // Par.spread: the whole curation cascade (C4 line filter → Gopher
    // quality → 13-metric repetition suite → DSIR featurization) is narrow
    // per-row compute over this frame — one spread at the head keeps every
    // map stage parallel on a single-split local scan (no-op at scale)
    Par.spread(t(s, dir, "documents")).select(col("doc_id"),
      when(col("doc_id") % 13 === 1,
        concat(base, lit(" Buy viagra now over here.")))
      .when(col("doc_id") % 13 === 2,
        concat(base, lit(" A config block { sits here.")))
      .when(col("doc_id") % 13 === 3, lit(webDupText))
      .when(col("doc_id") % 13 === 4,
        concat(base, lit(s"\n$repLine\n$repLine\n$repLine")))
      .otherwise(base).as("text"))
  }

  private def webCorpusCte: String =
    s"""wdocs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 1 THEN base || ' Buy viagra now over here.'
       |         WHEN doc_id % 13 = 2 THEN base || ' A config block { sits here.'
       |         WHEN doc_id % 13 = 3 THEN '$webDupText'
       |         WHEN doc_id % 13 = 4 THEN base ||
       |           repeat(chr(10) || 'Same repeated filler line over here.', 3)
       |         ELSE base END AS text
       |  FROM (SELECT doc_id,
       |          'Intro sentence for doc ' || CAST(doc_id AS VARCHAR) ||
       |          '. ' || text || '. End of document ' ||
       |          CAST(doc_id AS VARCHAR) || '.' AS base
       |        FROM documents))""".stripMargin

  /** Documents with a shared three-sentence block appended to every fifth
   * doc — the C4 span-dedup corpus (canonical = lowest doc_id). */
  private def c4SpanCorpus(s: SparkSession, dir: String): DataFrame =
    // Par.spread: sentence-window hashing below is the heavy map stage
    Par.spread(t(s, dir, "documents")).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(
        " Alpha block sentence one. Beta block sentence two." +
          " Gamma block sentence three.")))
      .otherwise(col("text")).as("text"))

  private val c4SpanCorpusCte =
    """sdocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text ||
      |      ' Alpha block sentence one. Beta block sentence two.' ||
      |      ' Gamma block sentence three.'
      |    ELSE text END AS text
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of the [[graft.ops.C4]] line filter over `src`:
   * yields (doc_id, ls = trimmed non-empty lines, kept = C4-kept lines). */
  private def c4LineCtes(src: String): String =
    s"""lf AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(coalesce(text, ''),
       |      chr(10)), l -> trim(l, ' ')), l -> l <> '') AS ls
       |  FROM $src),
       |lk AS (
       |  SELECT doc_id, ls,
       |    list_filter(ls, l -> regexp_matches(l, '[.!?"]$$') AND
       |      len(list_filter(string_split_regex(l, '\\s+'),
       |          w -> w <> '')) >= 5 AND
       |      NOT contains(lower(l), 'javascript')) AS kept
       |  FROM lf)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Passage.stripUnits]] over `src`
   * (doc_id, text): `unitsExpr` extracts the unit list from `text`,
   * windows of `n` units hash to grams, duplicates keep the canonical
   * first occurrence, affected docs rebuild joined by `sepExpr`. */
  private def unitStripSql(extraCtes: String, src: String,
      unitsExpr: String, n: Int, sepExpr: String): String =
    s"""WITH $extraCtes
       |pw AS (
       |  SELECT doc_id, $unitsExpr AS ws
       |  FROM $src),
       |og AS (
       |  SELECT doc_id, start_idx,
       |    md5(lower(array_to_string(ws[start_idx+1 : start_idx+$n], ' ')))
       |      AS gram
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(0, len(ws) - $n)) AS start_idx
       |        FROM pw WHERE len(ws) >= $n)),
       |dup AS (SELECT gram FROM og GROUP BY gram HAVING count(*) > 1),
       |rep AS (
       |  SELECT og.doc_id, og.start_idx,
       |    (row_number() OVER (PARTITION BY og.gram
       |                        ORDER BY og.doc_id, og.start_idx) = 1)
       |      AS is_canonical
       |  FROM og JOIN dup USING (gram)),
       |covered AS (
       |  SELECT DISTINCT doc_id, w_idx FROM (
       |    SELECT doc_id,
       |      unnest(generate_series(start_idx, start_idx + ${n - 1})) AS w_idx
       |    FROM rep WHERE NOT is_canonical)),
       |affected AS (SELECT DISTINCT doc_id, TRUE AS wasf FROM covered),
       |widx AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
       |  FROM pw WHERE doc_id IN (SELECT doc_id FROM affected)),
       |kept AS (
       |  SELECT w.doc_id, w.i - 1 AS w_idx, w.ws[w.i] AS w
       |  FROM widx w ANTI JOIN covered c
       |    ON w.doc_id = c.doc_id AND w.i - 1 = c.w_idx),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(w, $sepExpr ORDER BY w_idx) AS rb
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.wasf, FALSE) AS was_stripped,
       |  CASE WHEN coalesce(a.wasf, FALSE) THEN coalesce(r.rb, '')
       |       ELSE coalesce(d.text, '') END AS text_stripped
       |FROM $src d LEFT JOIN affected a USING (doc_id)
       |             LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  private val sentUnitsSql =
    """list_filter(list_transform(
      |      regexp_extract_all(coalesce(text, ''), '[^.!?]+[.!?]+'),
      |      x -> trim(x, ' ')), x -> x <> '')""".stripMargin

  private val paraUnitsSql =
    """list_filter(list_transform(
      |      string_split(coalesce(text, ''), chr(10) || chr(10)),
      |      x -> trim(x, ' ')), x -> x <> '')""".stripMargin

  /** DuckDB mirror of the [[graft.ops.Dsir]] cascade at b=256: hashed
   * unigram+bigram buckets, dense Laplace log-ratio model (micro-nat
   * fixed point), and doc-grain integer score sums. */
  private def dsirCtes(src: String = "documents"): String =
    s"""dws AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(coalesce(text, ''), ' ')),
       |      '\\s+'), w -> w <> '') AS ws
       |  FROM $src),
       |dgr AS (
       |  SELECT doc_id, unnest(ws || CASE WHEN len(ws) >= 2
       |      THEN list_transform(generate_series(1, len(ws) - 1),
       |             i -> ws[i] || ' ' || ws[i+1])
       |      ELSE []::VARCHAR[] END) AS g
       |  FROM dws),
       |dbk AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(g), 1, 6))::INT % 256 AS bucket
       |  FROM dgr),
       |dtc AS (SELECT bucket, count(*) AS ct FROM dbk
       |        WHERE doc_id % 10 = 0 GROUP BY 1),
       |drc AS (SELECT bucket, count(*) AS cr FROM dbk GROUP BY 1),
       |-- coalesce ≡ Dsir.fit's: an all-empty side (e.g. no doc_id%10=0
       |-- survivor) sums to NULL, which would NULL every weight; with 0
       |-- the Laplace smoothing degrades gracefully to ln(1/b)
       |dtot AS (SELECT coalesce((SELECT sum(ct) FROM dtc), 0) AS tt,
       |                coalesce((SELECT sum(cr) FROM drc), 0) AS tr),
       |dmodel AS (
       |  SELECT d.bucket,
       |    CAST(round(1e6 * (ln((coalesce(ct, 0) + 1) / (tt + 256)) -
       |                      ln((coalesce(cr, 0) + 1) / (tr + 256))))
       |      AS BIGINT) AS w_fp
       |  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) d
       |    LEFT JOIN dtc USING (bucket) LEFT JOIN drc USING (bucket)
       |    CROSS JOIN dtot),
       |dsc AS (
       |  SELECT d.doc_id, count(b.bucket) AS n_grams,
       |    CAST(coalesce(sum(m.w_fp), 0) AS BIGINT) AS dsir_score_fp
       |  FROM $src d LEFT JOIN dbk b USING (doc_id)
       |    LEFT JOIN dmodel m ON b.bucket = m.bucket
       |  GROUP BY 1)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Winnow.fingerprints]] (k=8, w=4) over
   * `src` (doc_id, text): yields `mn` (doc_id, ms = window minima). */
  private def winnowFpCtes(src: String): String =
    s"""wnt AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(trim(coalesce(text, ''), ' ')), '\\s+', ' ', 'g')
       |      AS t
       |  FROM $src),
       |wgr AS (
       |  SELECT doc_id,
       |    CASE WHEN length(t) < 8 THEN [t]
       |         ELSE list_transform(generate_series(1, length(t) - 7),
       |                i -> substr(t, i, 8)) END AS gs
       |  FROM wnt),
       |whs AS (
       |  SELECT doc_id,
       |    list_transform(gs, g -> ('0x' || substr(md5(g), 1, 6))::INT) AS h
       |  FROM wgr),
       |mn AS (
       |  SELECT doc_id,
       |    CASE WHEN len(h) < 4 THEN [list_min(h)]
       |         ELSE list_transform(generate_series(1, len(h) - 3),
       |                i -> list_min(h[i : i+3])) END AS ms
       |  FROM whs)""".stripMargin

  /** Dirty decorations for the text_normalize corpus: smart quotes, em
   * dash, ellipsis, NBSP, zero-width space, doubled spaces. */
  private val dirtyPrefix = "“Smart” ‘quotes’ — dash…  "
  private val dirtySuffix = "  tail​  end  "

  private def sqlLit(v: String): String = "'" + v.replace("'", "''") + "'"

  /** DuckDB mirror of [[graft.ops.Cols.ratio4dp]]: exact half-up 4dp
    * rounding of the integer ratio p/q by integer division — engine-stable
    * where `round(p/q, 4)` is not (see Cols.ratio4dp doc). */
  private def r4(p: String, q: String): String =
    s"((($p) * 20000 + ($q)) // (2 * ($q))) / 10000.0"

  /** DuckDB mirror of [[graft.ops.TextNorm.canonicalize]] applied to the
   * SQL expression `e` — the exact same replace/translate/regex chain. */
  private def duckCanonicalize(e: String): String = {
    val from = sqlLit(TextNorm.charMap.map(_._1).mkString + TextNorm.dropChars)
    val to = sqlLit(TextNorm.charMap.map(_._2).mkString)
    s"""trim(regexp_replace(regexp_replace(regexp_replace(
       |  translate(regexp_replace(coalesce($e, ''), '…', '...', 'g'),
       |    $from, $to),
       |  '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
       |  '[ \\t]+', ' ', 'g'),
       |  ' ?\\n ?', chr(10), 'g'), ' ')""".stripMargin
  }

  /** Exactly 13 lowercase words — one benchmark 13-gram for decon_strip. */
  private val deconPhrase = "the quick brown fox jumps over the lazy dog " +
    "near riverbank stone bridge"

  private val passageCte =
    """pdocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 3 THEN text || ' ' || text ELSE text END AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id,
      |    CASE WHEN doc_id % 7 = 3 THEN text || ' ' || text ELSE text END AS text
      |  FROM documents WHERE doc_id < 20)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Passage.repeated]] over a `pdocs` CTE. */
  private def passageRepCtes(n: Int): String =
    s"""pw AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |                w -> w <> '') AS ws
       |  FROM pdocs),
       |og AS (
       |  SELECT doc_id, start_idx,
       |    md5(lower(array_to_string(ws[start_idx+1 : start_idx+$n], ' '))) AS gram
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(0, len(ws) - $n)) AS start_idx
       |        FROM pw WHERE len(ws) >= $n)),
       |dup AS (SELECT gram, count(*) AS n_occ FROM og GROUP BY gram
       |        HAVING count(*) > 1),
       |rep AS (
       |  SELECT og.doc_id, og.start_idx, og.gram, dup.n_occ,
       |    (row_number() OVER (PARTITION BY og.gram
       |                        ORDER BY og.doc_id, og.start_idx) = 1)
       |      AS is_canonical
       |  FROM og JOIN dup USING (gram))""".stripMargin

  /** DuckDB mirror of [[graft.ops.Passage.strip]]'s rebuild over `rep`/`pw`:
   * yields `affected` (doc_id, wasf) and `rebuilt` (doc_id, rb). */
  private def passageStripCtes(n: Int): String =
    s"""covered AS (
       |  SELECT DISTINCT doc_id, w_idx FROM (
       |    SELECT doc_id,
       |      unnest(generate_series(start_idx, start_idx + ${n - 1})) AS w_idx
       |    FROM rep WHERE NOT is_canonical)),
       |affected AS (SELECT DISTINCT doc_id, TRUE AS wasf FROM covered),
       |widx AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
       |  FROM pw WHERE doc_id IN (SELECT doc_id FROM affected)),
       |kept AS (
       |  SELECT w.doc_id, w.i - 1 AS w_idx, w.ws[w.i] AS w
       |  FROM widx w ANTI JOIN covered c
       |    ON w.doc_id = c.doc_id AND w.i - 1 = c.w_idx),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY w_idx) AS rb
       |  FROM kept GROUP BY doc_id)""".stripMargin

  /** Documents wrapped in deterministic HTML (head with script/style, a
   * link-dense nav, an HTML comment, the text as `<br/>`-separated content
   * lines, a link-dense sidebar varying with doc_id, a footer with an
   * undecoded `&copy;`) — the main-content-extraction corpus. */
  private def htmlCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>body { margin: 0; }</style>" +
          "<script type=\"text/javascript\">var trk = 'id-"),
        col("doc_id").cast("string"),
        lit("';</script></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/lots\">Lots</a> " +
          "<a href=\"/about\">About</a></nav><!-- layout: "),
        (col("doc_id") % 3).cast("string"),
        lit(" --><div class=\"content\">"),
        regexp_replace(col("text"), "\n", "<br/>"),
        lit("</div><div class=\"side\">Related: <a href=\"/lot/"),
        (col("doc_id") % 7).cast("string"), lit("\">lot "),
        (col("doc_id") % 7).cast("string"),
        lit("</a> &amp; <a href=\"/cat\">catalogue index</a></div>" +
          "<footer><a href=\"/terms\">Terms</a> <a href=\"/privacy\">" +
          "Privacy</a> &copy; Lot Catalogue</footer></body></html>"))
        .as("html"))

  private val htmlCorpusCte =
    """hc AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><style>body { margin: 0; }</style>' ||
      |    '<script type="text/javascript">var trk = ''id-' ||
      |    CAST(doc_id AS VARCHAR) || ''';</script></head><body>' ||
      |    '<nav><a href="/">Home</a> <a href="/lots">Lots</a> ' ||
      |    '<a href="/about">About</a></nav><!-- layout: ' ||
      |    CAST(doc_id % 3 AS VARCHAR) || ' --><div class="content">' ||
      |    replace(text, chr(10), '<br/>') ||
      |    '</div><div class="side">Related: <a href="/lot/' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '">lot ' ||
      |    CAST(doc_id % 7 AS VARCHAR) ||
      |    '</a> &amp; <a href="/cat">catalogue index</a></div>' ||
      |    '<footer><a href="/terms">Terms</a> <a href="/privacy">' ||
      |    'Privacy</a> &copy; Lot Catalogue</footer></body></html>' AS html
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of [[MainContent.dropNonContent]] over `expr`. */
  private def duckDropNonContent(expr: String): String =
    MainContent.dropWholeRes.foldLeft(expr)((acc, re) =>
      s"regexp_replace($acc, '$re', ' ', 'g')")

  /** DuckDB mirror of the entity-decode chain (plain-string replaces). */
  private def duckDecodeEntities(expr: String): String =
    MainContent.entityDecodes.foldLeft(expr) { case (acc, (from, to)) =>
      s"replace($acc, '$from', '${to.replace("'", "''")}')"
    }

  /** DuckDB mirror of [[MainContent]]'s inner tag-strip + decode + collapse. */
  private def duckStripInner(expr: String): String = {
    val untagged = s"regexp_replace($expr, '${MainContent.tagRe}', ' ', 'g')"
    s"trim(regexp_replace(${duckDecodeEntities(untagged)}, '\\s+', ' ', 'g'), ' ')"
  }

  /** Shared CTE chain html → non-empty blocks with text/link_chars,
   * mirroring [[MainContent.blockStructs]] (numbered before empty-drop). */
  private def mcBlocksCtes: String =
    s"""$htmlCorpusCte,
       |nd AS (SELECT doc_id, ${duckDropNonContent("html")} AS h FROM hc),
       |bl AS (SELECT doc_id,
       |         string_split_regex(h, '${MainContent.blockSplitRe}') AS bs
       |       FROM nd),
       |pos AS (SELECT doc_id, unnest(bs) AS blk,
       |          CAST(unnest(range(len(bs))) AS INT) AS block_no FROM bl),
       |txt AS (SELECT doc_id, block_no, ${duckStripInner("blk")} AS text,
       |          coalesce(list_sum(list_transform(
       |            regexp_extract_all(blk, '${MainContent.anchorRe}', 1),
       |            a -> len(${duckStripInner("a")}))), 0) AS link_chars,
       |          len(regexp_extract_all(blk, '${MainContent.tagRe}'))
       |            AS n_tags
       |        FROM pos),
       |tt AS (SELECT *, CAST(len(text) AS DOUBLE) / greatest(n_tags, 1)
       |         AS ttr FROM txt),
       |sm AS (SELECT *, avg(ttr) OVER (PARTITION BY doc_id ORDER BY block_no
       |         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS sttr FROM tt)""".stripMargin

  /** Labeled quality corpus: odd doc_ids keep their real text (label 1),
   * even doc_ids get a deterministic spam string (label 0). doc_id%5==4
   * is the held-out eval split used by qm_scores. */
  private def qualityCorpus(s: SparkSession, dir: String): DataFrame =
    // Par.spread: bigram explode + model scoring are the heavy map stages
    Par.spread(t(s, dir, "documents")).select(col("doc_id"),
      (col("doc_id") % 2).cast("int").as("label"),
      when(col("doc_id") % 2 === 1, col("text"))
        .otherwise(concat(
          lit("buy cheap now click free win prize offer deal sale lot "),
          (col("doc_id") % 10).cast("string"))).as("text"))

  private val qualityCorpusCte =
    """qc AS (
      |  SELECT doc_id, CAST(doc_id % 2 AS INT) AS label,
      |    CASE WHEN doc_id % 2 = 1 THEN text
      |         ELSE 'buy cheap now click free win prize offer deal sale lot ' ||
      |           CAST(doc_id % 10 AS VARCHAR) END AS text
      |  FROM documents)""".stripMargin

  /** CTE chain qc → trained NB weights table `wt(tok, w_fp)` incl. the
   * __PRIOR__/__UNSEEN__ sentinels, mirroring [[QualityModel.train]] on
   * the doc_id%5<4 training split (micro-nat fixed point). */
  private val qmWeightsCtes =
    s"""$qualityCorpusCte,
       |tr AS (SELECT * FROM qc WHERE doc_id % 5 < 4),
       |qtk AS (SELECT label, unnest(list_filter(string_split_regex(
       |          lower(trim(text, ' ')), '\\s+'), t -> t <> '')) AS tok FROM tr),
       |qcnt AS (SELECT tok,
       |           sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1,
       |           sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0
       |         FROM qtk GROUP BY tok),
       |qtot AS (SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS v FROM qcnt),
       |qn AS (SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n1,
       |              sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n0 FROM tr),
       |wt AS (
       |  SELECT tok,
       |    CAST(round((ln(CAST(c1 + 1 AS DOUBLE) / (t1 + v)) -
       |                ln(CAST(c0 + 1 AS DOUBLE) / (t0 + v))) * 1e6, 0)
       |      AS BIGINT) AS w_fp
       |  FROM qcnt, qtot
       |  UNION ALL
       |  SELECT '__PRIOR__',
       |    CAST(round(ln(CAST(n1 AS DOUBLE) / n0) * 1e6, 0) AS BIGINT) FROM qn
       |  UNION ALL
       |  SELECT '__UNSEEN__',
       |    CAST(round(ln(CAST(t0 + v AS DOUBLE) / (t1 + v)) * 1e6, 0)
       |      AS BIGINT) FROM qtot)""".stripMargin

  /** CTE chain qc → bigram-LM weights `lwt(prev, w, w_fp)` incl. the
   * per-context and global `__UNSEEN__` backoff tiers, mirroring
   * [[LangModel.train]] (minCount=2) on the trusted split (label=1,
   * train ids). Micro-nat fixed point. */
  private val lmModelCtes =
    s"""$qualityCorpusCte,
       |ltr AS (SELECT doc_id, list_filter(string_split_regex(
       |          lower(trim(text, ' ')), '\\s+'), t -> t <> '') AS ws
       |        FROM qc WHERE label = 1 AND doc_id % 5 < 4),
       |lbg AS (SELECT unnest(ws[1:len(ws)-1]) AS prev,
       |               unnest(ws[2:len(ws)]) AS w FROM ltr),
       |lcb AS (SELECT prev, w, count(*) AS c FROM lbg GROUP BY 1, 2),
       |lcu AS (SELECT prev, sum(c) AS cp FROM lcb GROUP BY 1),
       |lv AS (SELECT count(DISTINCT tok) AS v
       |       FROM (SELECT unnest(ws) AS tok FROM ltr)),
       |lwt AS (
       |  SELECT lcb.prev, lcb.w,
       |    CAST(round(ln(CAST(c + 1 AS DOUBLE) / (cp + v)) * 1e6, 0)
       |      AS BIGINT) AS w_fp
       |  FROM lcb JOIN lcu ON lcb.prev = lcu.prev, lv
       |  WHERE c >= 2
       |  UNION ALL
       |  SELECT prev, '__UNSEEN__',
       |    CAST(round(ln(CAST(1 AS DOUBLE) / (cp + v)) * 1e6, 0) AS BIGINT)
       |  FROM lcu, lv
       |  UNION ALL
       |  SELECT '__UNSEEN__', '__UNSEEN__',
       |    CAST(round(ln(CAST(1 AS DOUBLE) / v) * 1e6, 0) AS BIGINT)
       |  FROM lv)""".stripMargin

  /** [[lmModelCtes]] + document scoring → `xs(doc_id, label, n_bigrams,
   * sum_fp)`, mirroring [[graft.ops.LangModel.xent]] over qc. */
  private val lmXentCtes =
    s"""$lmModelCtes,
       |dws AS (SELECT doc_id, label, list_filter(string_split_regex(
       |          lower(trim(text, ' ')), '\\s+'), t -> t <> '') AS ws FROM qc),
       |dbg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS prev,
       |               unnest(ws[2:len(ws)]) AS w FROM dws),
       |dj AS (SELECT dbg.doc_id,
       |         coalesce(bw.w_fp, bo.w_fp,
       |           (SELECT w_fp FROM lwt
       |            WHERE prev = '__UNSEEN__' AND w = '__UNSEEN__')) AS wv
       |       FROM dbg
       |       LEFT JOIN (SELECT * FROM lwt WHERE w <> '__UNSEEN__') bw
       |         ON dbg.prev = bw.prev AND dbg.w = bw.w
       |       LEFT JOIN (SELECT prev, w_fp FROM lwt
       |                  WHERE w = '__UNSEEN__' AND prev <> '__UNSEEN__') bo
       |         ON dbg.prev = bo.prev),
       |ds AS (SELECT doc_id, count(*) AS n_bigrams, sum(wv) AS sum_fp
       |       FROM dj GROUP BY 1),
       |xs AS (SELECT dws.doc_id, dws.label,
       |         coalesce(ds.n_bigrams, 0) AS n_bigrams,
       |         CAST(coalesce(ds.sum_fp, 0) AS BIGINT) AS sum_fp
       |       FROM dws LEFT JOIN ds ON dws.doc_id = ds.doc_id)""".stripMargin

  private val wordsCte =
    """words AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')), '\s+'),
      |                             w -> w <> '') AS ws, text
      |  FROM documents)""".stripMargin

  /** Mirrors [[graft.ops.Dedup.contentShingles]]: the outer filter drops
   * the zero-word degenerate (NULL here — DuckDB's `array_to_string([])`;
   * `''` on the Spark side) so empty/whitespace/null docs have no
   * cross-document n-gram candidacy on either engine. */
  private val shinglesCte =
    """shingles AS (
      |  SELECT * FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
      |      ELSE list_transform(range(len(ws)-4), i -> array_to_string(ws[i+1:i+5], ' '))
      |      END) AS shingle
      |    FROM words)
      |  WHERE shingle IS NOT NULL AND shingle <> '')""".stripMargin

  /** CTE chain shingles → `dupes(id)`: MinHash-LSH candidates, Jaccard
   * verification at τ=0.5, big-bucket star edges, recursive components,
   * non-canonical members — mirroring [[Dedup.verifiedEdges]] (k=8,
   * rowsPerBand=4) + [[Dedup.keepCanonical]]. Needs `WITH RECURSIVE` and
   * [[wordsCte]]/[[shinglesCte]] upstream. */
  private val dedupChainCtes =
    s"""d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
      |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
      |sig AS (
      |  SELECT doc_id, seed,
      |    min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
      |  FROM d CROSS JOIN seeds GROUP BY doc_id, seed),
      |bk AS (
      |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
      |    md5(string_agg(CAST(seed AS VARCHAR) || '@' || minhash, '|'
      |      ORDER BY CAST(seed AS VARCHAR) || '@' || minhash)) AS bucket
      |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
      |bs AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bk),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bs l JOIN bs r ON l.band = r.band AND l.bucket = r.bucket
      |  WHERE l.doc_id < r.doc_id AND l.bsz <= 1000),
      |cnts AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY 1),
      |com AS (
      |  SELECT c.a, c.b, count(*) AS n_common
      |  FROM cand c JOIN d da ON da.doc_id = c.a
      |              JOIN d db ON db.doc_id = c.b AND db.shingle = da.shingle
      |  GROUP BY 1, 2),
      |vprs AS (
      |  SELECT com.a, com.b FROM com
      |  JOIN cnts ca ON ca.doc_id = com.a JOIN cnts cb ON cb.doc_id = com.b
      |  WHERE ${r4("com.n_common", "ca.n_sh + cb.n_sh - com.n_common")} >= 0.5),
      |bigstars AS (
      |  SELECT DISTINCT a, b FROM (
      |    SELECT min(doc_id) OVER (PARTITION BY band, bucket) AS a, doc_id AS b
      |    FROM bs WHERE bsz > 1000)
      |  WHERE b <> a),
      |prs AS (SELECT * FROM vprs UNION SELECT * FROM bigstars),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM prs
      |  UNION SELECT b AS src, a AS dst FROM prs),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
      |dupes AS (
      |  SELECT id FROM (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
      |  WHERE id <> cluster_id)""".stripMargin

  /** DuckDB stopword-hit ratio over the `ws` column (for lang-ID CASEs). */
  private def stopRatioSql(lang: String): String = {
    val list = TextStats.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(ws, w -> w IN ($list))) * 1.0 / greatest(len(ws), 1)"
  }

  /** The langId CASE over `textCol` + r_de/r_en/r_es/r_fr ratio columns;
   * `noScore` is the zero/NULL-evidence verdict ('und' for TextStats.langId,
   * 'fr' for the TEI default in Assemble.teiDocuments).
   * Engine parity on NULL text: every ratio is NULL, so the guard must be
   * `best > 0.05 -> argmax` (falsy -> noScore), exactly TextStats.langId's
   * shape — an inverted `<= 0.05 -> noScore` fall-through routes NULLs
   * to 'de'. */
  private def langCaseSql(textCol: String = "text",
      noScore: String = "und"): String =
    s"""CASE WHEN length(regexp_replace($textCol, '[^\\p{Han}]', '', 'g')) * 2
       |       > length($textCol) THEN 'zh'
       |     WHEN greatest(r_de, r_en, r_es, r_fr) > 0.05 THEN
       |       CASE WHEN r_fr >= r_es AND r_fr >= r_en AND r_fr >= r_de THEN 'fr'
       |            WHEN r_es >= r_en AND r_es >= r_de THEN 'es'
       |            WHEN r_en >= r_de THEN 'en'
       |            ELSE 'de' END
       |     ELSE '$noScore' END""".stripMargin

  /** Planted lang-ID probes: ids 0-3 are stopword-free sentences the
   * heuristic langId scores 'und' (LangIdSpec pins that miss), 4-7 are
   * ordinary en/fr/de/es text. Expected langs: en fr de es en fr de es. */
  val langIdTests: Seq[(Long, String)] = Seq(
    0L -> "extraordinary archaeological discovery revealed beneath crumbling medieval castle walls yesterday",
    1L -> "découverte archéologique extraordinaire annoncée hier près du château médiéval en ruine",
    2L -> "außergewöhnliche archäologische entdeckung gestern nahe verfallenem mittelalterlichem schloss bekanntgegeben",
    3L -> "descubrimiento arqueológico extraordinario anunciado ayer cerca del castillo medieval en ruinas",
    4L -> "the children were reading quietly in the library before dinner",
    5L -> "les voyageurs attendaient patiemment le train sur le quai froid",
    6L -> "die reisenden warteten geduldig auf dem kalten bahnsteig auf den zug",
    7L -> "los viajeros esperaban pacientemente el tren en el andén frío")

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  private def xmlUnescape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&apos;", "'"), "&amp;", "&")

  /** Per-conv non-whitespace characters of the extracted spans, in segment
   * order (the rebuild-invariant LHS shared by the *_rebuild_diff pins).
   * `(?U)` makes `\s` cover Unicode whitespace (NBSP U+00A0 etc.): the
   * structuring stage trims Unicode-whitespace line edges, so an
   * ASCII-only strip would flag a false rebuild mismatch on NBSP-padded
   * lines while the pipeline is in fact lossless modulo whitespace. */
  private def spanChars(spans: DataFrame): DataFrame =
    spans.groupBy("conv_id")
      .agg(regexp_replace(xmlUnescape(array_join(transform(
        array_sort(collect_list(struct(col("segment_id"), col("text")))),
        x => x.getField("text")), "")), "(?U)\\s+", "").as("chars"))
      .where(col("chars") =!= "")

  /** Per-conv non-whitespace characters of the source body lines, in line
   * order (the rebuild-invariant RHS). */
  private def lineChars(bodyLines: DataFrame): DataFrame =
    bodyLines.groupBy("conv_id")
      .agg(regexp_replace(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("line_in_turn"),
          col("line")))),
        x => x.getField("line")), ""), "(?U)\\s+", "").as("chars"))
      .where(col("chars") =!= "")

  /** DuckDB replay of [[graft.ops.LangId]] training on the SAME resource
   * sentences the Spark side trains on, plus scoring of [[langIdTests]] —
   * the whole trigram-NB lifecycle closed-form in SQL. */
  private lazy val langTriCtes: String = {
    val trainValues = graft.ops.LangId.builtinCorpus
      .map { case (l, t) => s"(${sqlStr(l)}, ${sqlStr(t)})" }.mkString(",\n  ")
    val testValues = langIdTests
      .map { case (i, t) => s"($i, ${sqlStr(t)})" }.mkString(",\n  ")
    s"""ltr(lang, text) AS (VALUES
       |  $trainValues),
       |lte(doc_id, text) AS (VALUES
       |  $testValues),
       |ltn AS (SELECT lang,
       |          ' ' || regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') || ' ' AS t
       |        FROM ltr),
       |ltg AS (SELECT lang, t, unnest(generate_series(1, len(t) - 2)) AS i
       |        FROM ltn WHERE len(t) >= 3),
       |lcn AS (SELECT lang, substr(t, CAST(i AS INT), 3) AS tri, count(*) AS c
       |        FROM ltg GROUP BY 1, 2),
       |ltl AS (SELECT lang, sum(c) AS t FROM lcn GROUP BY 1),
       |lv AS (SELECT count(DISTINCT tri) AS v FROM lcn),
       |lw AS (SELECT lang, tri,
       |         CAST(round(ln((c + 1.0) / (t + v)) * 1e6) AS BIGINT) AS w_fp
       |       FROM lcn JOIN ltl USING (lang) CROSS JOIN lv),
       |lu AS (SELECT lang,
       |         CAST(round(ln(1.0 / (t + v)) * 1e6) AS BIGINT) AS unseen_fp
       |       FROM ltl CROSS JOIN lv),
       |lp AS (SELECT n.lang,
       |         CAST(round(ln(n.n / a.n_all) * 1e6) AS BIGINT) AS prior_fp
       |       FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM ltr GROUP BY 1) n,
       |            (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM ltr) a),
       |lten AS (SELECT doc_id,
       |           ' ' || regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g') || ' ' AS t
       |         FROM lte),
       |ldg AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
       |        FROM lten WHERE len(t) >= 3),
       |ldc AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri, count(*) AS n
       |        FROM ldg GROUP BY 1, 2),
       |ldtot AS (SELECT doc_id, sum(n) AS n_tot FROM ldc GROUP BY 1),
       |lpres AS (SELECT ldc.doc_id, lw.lang, sum(ldc.n * lw.w_fp) AS s1,
       |            sum(ldc.n) AS n_present
       |          FROM ldc JOIN lw ON ldc.tri = lw.tri GROUP BY 1, 2),
       |lsc AS (SELECT dt.doc_id, sc.lang,
       |          sc.prior_fp + coalesce(p.s1, 0)
       |            + (dt.n_tot - coalesce(p.n_present, 0)) * sc.unseen_fp AS score_fp
       |        FROM ldtot dt
       |        CROSS JOIN (SELECT lu.lang, lu.unseen_fp, lp.prior_fp
       |                    FROM lu JOIN lp ON lu.lang = lp.lang) sc
       |        LEFT JOIN lpres p ON p.doc_id = dt.doc_id AND p.lang = sc.lang)""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Pq]] codebook training (m=8, k=16 over
   * the 64-dim embeddings): hash-ordered 16-row sample, dense codes,
   * per-subspace slices. */
  private val pqCbCtes =
    """psample AS (
      |  SELECT embedding::DOUBLE[] AS v,
      |    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
      |         - 1 AS INT) AS code
      |  FROM (SELECT * FROM embeddings
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
      |cbk AS (
      |  SELECT CAST(s AS INT) AS subspace, code, v[s*8+1 : s*8+8] AS cv
      |  FROM (SELECT code, v, unnest(generate_series(0, 7)) AS s FROM psample))""".stripMargin

  /** DuckDB replay of [[graft.ops.Pq.encode]]: per (vector, subspace) the
   * argmin 4dp-rounded squared L2 code, lower code on ties. */
  private val pqCodesCtes =
    """pe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pdist AS (SELECT e.vec_id, c.subspace, c.code,
      |    round(list_sum(list_transform(range(1, 9), i ->
      |      (e.v[c.subspace*8 + i] - c.cv[i])
      |        * (e.v[c.subspace*8 + i] - c.cv[i]))), 4) AS d
      |  FROM pe e CROSS JOIN cbk c),
      |pam AS (SELECT vec_id, subspace, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
      |      ORDER BY d, code) AS rn
      |    FROM pdist) WHERE rn = 1),
      |pcodes AS (SELECT vec_id, list(code ORDER BY subspace) AS codes
      |           FROM pam GROUP BY vec_id)""".stripMargin

  /** DuckDB replay of the ADC query side (vec_id < 10 probes): per-query
   * per-(subspace, code) distances `lut` and the exploded per-neighbor
   * codes `pc` — shared by pq_topk and ivfpq_topk. */
  private val pqAdcCtes =
    """qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |       FROM embeddings WHERE vec_id < 10),
      |lut AS (SELECT q.query_id, c.subspace, c.code,
      |          round(list_sum(list_transform(range(1, 9), i ->
      |            (q.qv[c.subspace*8 + i] - c.cv[i])
      |              * (q.qv[c.subspace*8 + i] - c.cv[i]))), 4) AS d
      |        FROM qs q CROSS JOIN cbk c),
      |pc AS (SELECT vec_id AS neighbor_id, unnest(codes) AS code,
      |         CAST(unnest(generate_series(0, 7)) AS INT) AS subspace
      |       FROM pcodes)""".stripMargin

  /** n-gram variant of [[shinglesCte]] over the `words` CTE (same
   * zero-word-degenerate filter — [[graft.ops.Dedup.contentShingles]]). */
  private def ngramsCte(n: Int, name: String): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(ws) < $n THEN [array_to_string(ws, ' ')]
       |      ELSE list_transform(range(len(ws)-${n - 1}), i -> array_to_string(ws[i+1:i+$n], ' '))
       |      END) AS sh
       |    FROM words)
       |  WHERE sh IS NOT NULL AND sh <> '')""".stripMargin

  private val ngrams13Cte = ngramsCte(13, "ngrams")

  // deterministic SRP hyperplane component, shared Spark<->SQL (md5-derived)
  private def planeSql(p: Int): String =
    s"(('0x' || substr(md5('$p#' || CAST(i AS VARCHAR)), 1, 6))::INT / 16777216.0 * 2 - 1)"

  private def bucketSql(vecExpr: String, planes: Int, table: Int = 0): String =
    (0 until planes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(len($vecExpr)), " +
        s"i -> $vecExpr[i+1]::DOUBLE * ${planeSql(table * 100 + p)})) >= 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB replay of [[simAnnRecall]]: per operating point, candidate
   * generation (SRP bucket joins across tables with optional hamming-1
   * probes / IVF probe-rank filters), exact 4dp re-rank, and recall
   * against the brute-force truth set — the whole curve in ONE oracle. */
  private def simAnnRecallOracle: String = {
    val truthCtes =
      """tq AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                                 c.embedding::DOUBLE[]), 4) AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |    FROM tq) WHERE rank <= 5),
        |tn AS (SELECT count(*) AS n_true FROM truth)""".stripMargin
    def topRec(i: String, method: String, p1: Int, p2: Int) =
      s"""top$i AS (SELECT query_id, neighbor_id FROM (
         |    SELECT cd.query_id, cd.neighbor_id, row_number() OVER (
         |      PARTITION BY cd.query_id ORDER BY
         |        round(list_cosine_similarity(qe.embedding::DOUBLE[],
         |                                     ce.embedding::DOUBLE[]), 4) DESC,
         |        cd.neighbor_id) AS rank
         |    FROM cand$i cd JOIN embeddings qe ON qe.vec_id = cd.query_id
         |                   JOIN embeddings ce ON ce.vec_id = cd.neighbor_id)
         |  WHERE rank <= 5),
         |rec$i AS (SELECT '$method' AS method, CAST($p1 AS INT) AS p1,
         |    CAST($p2 AS INT) AS p2,
         |    CAST(((SELECT count(*) FROM top$i JOIN truth
         |             USING (query_id, neighbor_id)) * 10000)
         |         // (SELECT n_true FROM tn) AS BIGINT) AS recall_bp)""".stripMargin
    val srpBlocks = annSrpConfigs.zipWithIndex.map { case ((pl, tb, mp), idx) =>
      val i = s"s$idx"
      val tblCtes = (0 until tb).map { tt =>
        val b = bucketSql("e.embedding", pl, tt)
        val probes =
          if (mp) ("b" +: (0 until pl).map(p => s"xor(b, ${1 << p})"))
            .mkString(", ")
          else "b"
        s"""cb${i}_$tt AS (SELECT e.vec_id, $b AS b FROM embeddings e),
           |qp${i}_$tt AS (SELECT vec_id, unnest([$probes]) AS b
           |       FROM cb${i}_$tt WHERE vec_id < 20)""".stripMargin
      }.mkString(",\n")
      val unions = (0 until tb).map(tt =>
        s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM qp${i}_$tt q JOIN cb${i}_$tt c
           |    ON q.b = c.b AND q.vec_id <> c.vec_id""".stripMargin)
        .mkString("\n  UNION\n  ")
      s"""$tblCtes,
         |cand$i AS (
         |  $unions),
         |${topRec(i, if (mp) "srp_mp" else "srp", pl, tb)}""".stripMargin
    }
    val ivfShared =
      """icents AS (
        |  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |iassign AS (
        |  SELECT vec_id AS neighbor_id, cell FROM (
        |    SELECT c.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY c.vec_id ORDER BY
        |        round(list_cosine_similarity(c.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings c CROSS JOIN icents ct) WHERE rn = 1),
        |iprob AS (
        |  SELECT vec_id AS query_id, cell, rn FROM (
        |    SELECT q.vec_id, ct.cell, row_number() OVER (
        |      PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings q CROSS JOIN icents ct WHERE q.vec_id < 20))""".stripMargin
    val ivfBlocks = annIvfProbes.zipWithIndex.map { case (np, idx) =>
      val i = s"i$idx"
      s"""cand$i AS (
         |  SELECT p.query_id, a.neighbor_id
         |  FROM iprob p JOIN iassign a
         |    ON p.cell = a.cell AND p.rn <= $np AND a.neighbor_id <> p.query_id),
         |${topRec(i, "ivf", 16, np)}""".stripMargin
    }
    val finals =
      (annSrpConfigs.indices.map(i => s"SELECT * FROM recs$i") ++
        annIvfProbes.indices.map(i => s"SELECT * FROM reci$i"))
        .mkString("\nUNION ALL\n")
    s"""WITH ${(truthCtes +: srpBlocks) .mkString(",\n")},
       |$ivfShared,
       |${ivfBlocks.mkString(",\n")}
       |$finals""".stripMargin
  }

  /** recall@5 of an ANN method vs the exact brute-force baseline, one row
   * per query vector (vec_id < 10), zero-recall queries included. */
  private def recallAt5(e: DataFrame,
      ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val q = e.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(e, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ann(e, q).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("hits"), lit(0L)) / 5.0, 2).as("recall_at_5"))
  }

  // ------------------------------------------------------------- queries —

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // — relational baselines (prove the Catalyst-first plumbing) —
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))),

    "q2_join_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))),

    "q3_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    }),

    "q4_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("ts_s", col("ts").cast("timestamp").cast("long"))
        .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n_events").as("max_sess_events"))
    }),

    "q5_asof_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .where(col("prev_value").isNotNull)
        .select(col("event_id"), col("user_id"),
          round(col("value") - col("prev_value"), 4).as("value_delta"))
    }),

    "q6_tumbling" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))),

    // — extraction operators over the transcripts view —
    "f1_filter_lines" -> ((s, dir) =>
      Structure.keptLines(convTranscripts(s, dir))
        .select("conv_id", "turn_idx", "line_in_turn")),

    "s2_tokenize" -> ((s, dir) =>
      tokensOf(s, dir).select("conv_id", "turn_idx", "tok_idx", "tok")),

    "w2_statuses" -> ((s, dir) =>
      Features.body(tokensOf(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("tok_idx"),
          col("f_blockStatus").as("block_status"),
          col("f_lineStatus").as("line_status"))),

    "w2_statuses_chunked" -> ((s, dir) =>
      // chunk-parallel featurizer against the SAME DuckDB oracle as
      // w2_statuses: the phantom-edge adjacency reconstruction is checked
      // externally, not just differentially (ChunkedFeaturesSpec)
      Features.bodyChunked(tokensOf(s, dir), chunkTurns = 8)
        .select(col("conv_id"), col("turn_idx"), col("tok_idx"),
          col("f_blockStatus").as("block_status"),
          col("f_lineStatus").as("line_status"))),

    "w5_font_status" -> ((s, dir) =>
      Features.segmenter(Structure.keptLines(convTranscripts(s, dir)))
        .select(col("conv_id"), col("turn_idx"),
          col("f_fontStatus").as("font_status"),
          col("f_fontSize").as("font_size_status"))),

    "w8_positions" -> ((s, dir) =>
      Features.segmenter(Structure.keptLines(convTranscripts(s, dir)))
        .select(col("conv_id"), col("turn_idx"),
          col("f_relDocPos").as("rel_doc_pos"),
          col("f_lineLength").as("line_length_bin"))),

    "scalar_features" -> ((s, dir) => {
      val toks = tokensOf(s, dir)
      val dig = TextCols.digitClass(col("tok"))
      toks.select(col("conv_id"), col("turn_idx"), col("tok_idx"),
        TextCols.capitalisation(col("tok"), dig).as("capitalisation"),
        dig.as("digit"),
        TextCols.punctType(col("tok")).as("punct_type"),
        TextCols.bool01(length(col("tok")) === 1).as("single_char"))
    }),

    "a1_conv_stats" -> ((s, dir) =>
      transcripts(s, dir).groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum(length(col("text"))).as("n_chars"),
          max(length(col("text"))).as("max_turn_chars"),
          countDistinct(col("role")).as("n_roles"))),

    "a2_repetitive" -> ((s, dir) =>
      transcripts(s, dir)
        .select(col("conv_id"), TextCols.pattern(col("text")).as("pattern"))
        .where(length(col("pattern")) > 8)
        .groupBy("conv_id", "pattern").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)),

    "a7_zone_segments" -> ((s, dir) => {
      val zoned = Labeler.zones(
        Features.segmenter(Structure.keptLines(convTranscripts(s, dir))))
        .withColumnRenamed("zone_label", "label")
      Assemble.withSegmentIds(zoned, Seq("turn_idx", "line_in_turn"))
        .groupBy("conv_id", "segment_id")
        .agg(first(col("label_base")).as("zone"), count(lit(1)).as("n_lines"))
    }),

    "k2_zone_spans" -> ((s, dir) => {
      val zoned = Labeler.zones(
        Features.segmenter(Structure.keptLines(convTranscripts(s, dir))))
      Assemble.zoneSpans(zoned)
        .select(col("conv_id"), col("segment_id"), col("label"), col("text"))
    }),

    "w11_zones_content" -> ((s, dir) =>
      // content-based segmenter (no role signal): zone line counts per conv
      Labeler.zonesContent(Structure.keptLines(convTranscripts(s, dir)))
        .groupBy("conv_id", "zone").agg(count(lit(1)).as("n_lines"))),

    "k3_rawtext" -> ((s, dir) =>
      transcripts(s, dir).groupBy("conv_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          x => x.getField("text")), "\n").as("rawtext"))),

    // — reference-style evaluation report as a shippable artifact
    //   (AbstractTrainer.runEvaluation → eval.txt, invoked from
    //   DatacatSegmenterTrainer.java:245): per-label P/R/F1/accuracy in
    //   integer basis points over the full segmenter gold corpus, plus
    //   micro/macro/instance rows. FSM labeler upstream → rows-only at
    //   the driver; QUALITY is oracle-pinned by zone_eval_floors —
    "zone_eval_report" -> ((s, dir) => zoneEvalReport(s)),

    // quality floors as a constant-row invariant oracle (the
    // pca_invariants pattern): a labeler regression flips the booleans
    // and the driver goes red — eval is driver-pinned every round
    "zone_eval_floors" -> ((s, dir) =>
      zoneEvalReport(s).agg(
        max(when(col("label") === "all_micro", col("accuracy_bp"))).as("acc"),
        max(when(col("label") === "<front>", col("f1_bp"))).as("ff1"),
        max(when(col("label") === "<body>", col("f1_bp"))).as("bf1"))
        // floors just under the measured levels (micro acc 9402 bp,
        // front line-F1 6457, body line-F1 9669 — vs the reference
        // model's archived field-level front F1 62.16 / micro-F1 69.51)
        .select((col("acc") >= 9300L).as("zone_acc_ok"),
          (col("ff1") >= 6200L).as("front_f1_ok"),
          (col("bf1") >= 9600L).as("body_f1_ok"))),

    // — deduplication —
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"))),

    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), k = 8)),

    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), k = 8, rowsPerBand = 4)),

    "dedup_star_edges" -> ((s, dir) =>
      // linear-per-cluster candidate edges (the components feed at scale)
      Dedup.minhashStarEdges(t(s, dir, "documents"), k = 8, rowsPerBand = 4)),

    "dedup_clusters" -> ((s, dir) =>
      // duplicate-cluster resolution over star-form LSH edges: O(d) edges
      // per d-duplicate bucket, identical components to the all-pairs form
      Dedup.components(Dedup.minhashStarEdges(t(s, dir, "documents"),
        k = 8, rowsPerBand = 4))),

    "prep_corpus" -> ((s, dir) => {
      // the composed training-corpus prep pass: near-dup canonicalization
      // (MinHash LSH -> Jaccard-VERIFIED edges -> components -> keep
      // min-id), quality floor, lang tag. Verification keeps an LSH
      // false-positive collision from silently merging two non-duplicate
      // documents and dropping one from the corpus.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.verifiedEdges(docs, k = 8, rowsPerBand = 4, tau = 0.5)
      Dedup.keepCanonical(docs, pairs)
        .join(TextStats.quality(docs).select("doc_id", "quality_score"), Seq("doc_id"))
        .where(col("quality_score") >= 0.5)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang"),
          col("quality_score"))
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash16(t(s, dir, "documents"))),

    "dedup_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.jaccard(docs, Dedup.minhashCandidates(docs, k = 8, rowsPerBand = 4))
        .where(col("jaccard") >= 0.5)
    }),

    // — similarity search —
    "sim_topk_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
    }),

    "sim_topk_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 10), k = 5, planes = 8,
        multiProbe = false, tables = 1)
    }),

    "sim_topk_lsh_mp" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 10), k = 5, planes = 8,
        multiProbe = true, tables = 1)
    }),

    "sim_topk_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10),
        k = 5, nCentroids = 16, nProbe = 2)
    }),

    "sim_topk_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopKTrained(e, e.where(col("vec_id") < 10),
        k = 5, nCentroids = 4, iters = 2, nProbe = 2)
    }),

    "sim_near_dups" -> ((s, dir) =>
      Similarity.cosineNearDups(t(s, dir, "embeddings"), threshold = 0.9, planes = 8)),

    // — semantic dedup over embeddings with planted twins (vec_id < 20
    //   duplicated at +10000) —
    "sem_dedup_edges" -> ((s, dir) =>
      Similarity.semDedupEdges(dupEmbCorpus(s, dir),
        nCentroids = 16, threshold = 0.95)),

    "sem_dedup_keep" -> ((s, dir) =>
      Similarity.semDedupKeep(dupEmbCorpus(s, dir),
        nCentroids = 16, threshold = 0.95)
        .select("vec_id")),

    "sim_near_dup_stars" -> ((s, dir) =>
      // the components feed at scale: O(d) verified edges per SRP bucket
      // instead of the capped all-pairs form above
      Similarity.cosineStarEdges(t(s, dir, "embeddings"), threshold = 0.9, planes = 8)),

    // — product quantization (the FAISS IVF-PQ compression role): 64-dim
    //   floats → 8 byte-codes; codebook, codes, and ADC ranking each
    //   replayed closed-form by the oracle —
    // driver-facing grain is scalar (subspace, code, pos, component) —
    // posexplode of the array API's `cv`, because the driver's pandas
    // row-sorter cannot hash array cells (r4 gate lesson)
    "pq_codebook" -> ((s, dir) =>
      graft.ops.Pq.trainCodebook(t(s, dir, "embeddings"), m = 8, k = 16)
        .select(col("subspace"), col("code"), posexplode(col("cv")))
        .withColumnRenamed("col", "component")),

    "pq_codes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // scalar grain: codes[i] rows as (vec_id, subspace=i, code)
      graft.ops.Pq.encode(e, graft.ops.Pq.trainCodebook(e, m = 8, k = 16))
        .select(col("vec_id"), posexplode(col("codes")))
        .toDF("vec_id", "subspace", "code")
    }),

    "pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.ops.Pq.trainCodebook(e, m = 8, k = 16)
      graft.ops.Pq.pqTopK(graft.ops.Pq.encode(e, cb),
        e.where(col("vec_id") < 10), cb, k = 5)
    }),

    "ivfpq_topk" -> ((s, dir) => {
      // IVF routing × PQ codes (the FAISS flagship composition): probe 2
      // of 4 cells, ADC-rank byte codes inside them
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.where(col("vec_id") < 10), k = 5,
        nCells = 4, nProbe = 2, m = 8, kCodes = 16)
    }),

    // — ANN operating-point evidence: recall@5 vs brute force across the
    //   SRP (planes, tables, multi-probe) and IVF (nProbe) knobs — the
    //   Dedup.lshPlan discipline applied to the vector side. The oracle
    //   replays every configuration closed-form; SURVEY documents the
    //   chosen defaults against this curve —
    "sim_ann_recall" -> ((s, dir) => simAnnRecall(s, dir)),

    "sim_ivfpq_two_level_diff" -> ((s, dir) => {
      // the flagship ANN composition on the growth path: with one coarse
      // cell, two-level IVF-PQ must equal single-broadcast IVF-PQ exactly
      // (same hash-ordered centroids, same 4dp ranking rules). Constant-
      // empty oracle.
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 10)
      val two = Similarity.ivfPqTopKTwoLevel(e, q, k = 5, nCoarse = 1,
        nFinePerCell = 4, nProbe = 2, m = 8, kCodes = 16)
      val one = Similarity.ivfPqTopK(e, q, k = 5, nCells = 4, nProbe = 2,
        m = 8, kCodes = 16)
      two.exceptAll(one).union(one.exceptAll(two))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "sim_two_level_diff" -> ((s, dir) => {
      // 10^9-vector growth path pinned as an invariant: with one coarse
      // cell, two-level assignment must equal single-level cellAssignments
      // exactly (same hash-ordered centroid rule). Constant-empty oracle.
      val emb = t(s, dir, "embeddings")
      val two = Similarity.cellAssignmentsTwoLevel(emb, nCoarse = 1,
        nFinePerCell = 4).select("vec_id", "cell")
      val one = Similarity.cellAssignments(emb, nCentroids = 4)
        .select("vec_id", "cell")
      two.exceptAll(one).union(one.exceptAll(two))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    // — text analysis —
    "text_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))),

    // — trained char-trigram NB language ID (the langdetect role): the
    //   model trains on the shipped multilingual resource sample and the
    //   oracle replays training + scoring from the SAME sentences (VALUES
    //   below), closed-form in SQL like qm_weights/lm_model —
    "lang_trigram_model" -> ((s, dir) =>
      graft.ops.LangId.builtinModel(s)),

    "lang_trigram_id" -> ((s, dir) => {
      import s.implicits._
      // planted probes include stopword-free sentences the heuristic
      // langId cannot place (LangIdSpec asserts the floor)
      graft.ops.LangId.classify(
        langIdTests.toDF("doc_id", "text"),
        graft.ops.LangId.builtinModel(s))
    }),

    "text_quality" -> ((s, dir) =>
      TextStats.quality(t(s, dir, "documents"))
        .select("doc_id", "n_words", "mean_word_len", "punct_ratio",
          "upper_ratio", "stopword_ratio", "quality_score")),

    "text_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)")).as("n_tokens"))),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))),

    // — BPE tokenizer (train on the corpus dict, encode as mapPartitions) —
    "bpe_word_counts" -> ((s, dir) =>
      Bpe.wordCounts(t(s, dir, "documents"), minCount = 2, maxWords = 5000)),

    "bpe_char_tokens" -> ((s, dir) =>
      // encode with ZERO merges: token count must equal (non-ws code
      // points + whitespace runs) — pins the pre-tokenizer segmentation
      // against an independent SQL computation
      Bpe.tokenStats(Bpe.encode(t(s, dir, "documents"), Nil))
        .select("doc_id", "n_tokens")),

    "bpe_roundtrip_diff" -> ((s, dir) =>
      // lossless-encoding invariant as a constant-empty oracle: after
      // training 200 merges on the corpus dict, concat(tokens) must equal
      // the source text for EVERY document
      Bpe.trainAndEncode(t(s, dir, "documents"), nMerges = 200,
          minCount = 2, maxWords = 5000)
        .where(array_join(col("tokens"), "") =!= coalesce(col("text"), lit("")))
        .agg(count(lit(1)).as("n_mismatch"))),

    // — URL / domain balancing over the planted URL corpus —
    "url_domains" -> ((s, dir) =>
      UrlOps.withDomains(urlCorpus(s, dir))
        .select("doc_id", "host", "domain")),

    "url_domain_stats" -> ((s, dir) =>
      UrlOps.domainStats(urlCorpus(s, dir))),

    "url_quota_sample" -> ((s, dir) =>
      UrlOps.domainQuotaSample(urlCorpus(s, dir), quota = 30)
        .select("doc_id", "domain")),

    "url_top_n" -> ((s, dir) =>
      UrlOps.domainTopN(urlCorpus(s, dir), n = 20)
        .select("domain", "doc_id", "rnk")),

    // — BM25 keyword retrieval (three fixed probe queries) —
    "search_bm25" -> ((s, dir) =>
      // Par.spread: the postings explode + doc-length term splits are the
      // heavy map stages (no-op at scale)
      Search.bm25TopK(Par.spread(t(s, dir, "documents")),
        s.createDataFrame(Seq((0, "hash join spark"), (1, "window sort merge"),
          (2, "customer query table"))).toDF("query_id", "query"),
        k = 10)),

    // — Gopher quality rules —
    "gopher_stats" -> ((s, dir) =>
      Gopher.stats(t(s, dir, "documents"))
        .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
          "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
          "n_stop_hits")),

    "gopher_keep" -> ((s, dir) =>
      // minWords 30 splits the 10-99-word corpus so both verdicts appear
      Gopher.withKeep(t(s, dir, "documents"), minWords = 30, minStopHits = 0,
          minAlphaFrac = 0.5)
        .select("doc_id", "gopher_keep")),

    // — Gopher repetition rules (table A1: the other half of the gate)
    //   over the planted-repetition corpus so every metric fires —
    "gopher_repetition" -> ((s, dir) =>
      Gopher.repetitionStats(repCorpus(s, dir))
        .select("doc_id", "dup_line_frac", "dup_line_char_frac",
          "dup_para_frac", "dup_para_char_frac",
          "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
          "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
          "dup_8gram_char_frac", "dup_9gram_char_frac",
          "dup_10gram_char_frac")),

    "gopher_rep_keep" -> ((s, dir) =>
      Gopher.withRepetitionKeep(repCorpus(s, dir))
        .select("doc_id", "gopher_rep_keep")),

    // — C4 cleaning rules (Raffel et al. 2020 §2.2) over a planted corpus
    //   so every rule fires —
    "c4_line_filter" -> ((s, dir) =>
      C4.lineFiltered(t(s, dir, "documents"))
        .select("doc_id", "text_clean", "n_lines_kept", "n_lines_dropped")),

    "c4_keep" -> ((s, dir) =>
      C4.withKeep(C4.lineFiltered(c4Corpus(s, dir)), textCol = "text_clean")
        .select("doc_id", "n_sentences", "has_lorem_ipsum", "has_brace",
          "n_bad_words", "c4_keep")),

    "c4_span_dedup" -> ((s, dir) =>
      C4.spanDedup(c4SpanCorpus(s, dir))
        .select("doc_id", "was_stripped", "text_stripped")),

    "para_dedup" -> ((s, dir) =>
      C4.paragraphDedup(repCorpus(s, dir))
        .select("doc_id", "was_stripped", "text_stripped")),

    // — full web-curation cascade: C4 line filter → C4 page keep →
    //   Gopher quality keep → Gopher repetition keep → exact dedup →
    //   DSIR scoring of the survivors (the FineWeb/RefinedWeb shape) —
    "web_curation" -> ((s, dir) => {
      val lf = C4.lineFiltered(webCorpus(s, dir))
        .select(col("doc_id"), col("text_clean").as("text"))
      val c4ok = C4.withKeep(lf).where(col("c4_keep"))
        .select("doc_id", "text")
      val gq = Gopher.withKeep(c4ok, minWords = 30, minStopHits = 0,
          minAlphaFrac = 0.5)
        .where(col("gopher_keep")).select("doc_id", "text")
      // localCheckpoint the survivor frames: the filter cascade above is
      // a pure projection (no shuffle for skipped-stage reuse), and its
      // consumers below (dedup + semi-join, then DSIR fit target/raw +
      // score) would re-run the whole 13-metric repetition suite 5× —
      // measured 56 s vs ~4 s at sf0.1. Survivors are corpus-sized rows
      // AFTER curation, exactly what a real pipeline would persist.
      val gr = Gopher.withRepetitionKeep(gq)
        .where(col("gopher_rep_keep")).select("doc_id", "text")
        .localCheckpoint()
      val keepIds = Dedup.exact(gr).where(!col("is_dup")).select("doc_id")
      // no checkpoint on dd: the fused fitScored below is its ONLY consumer
      // (fit+score used to read it three times), and it sits on the
      // checkpointed gr via a broadcast semi-join — nothing recomputes
      val dd = gr.join(keepIds, Seq("doc_id"), "left_semi")
      // fused DSIR fit+score: one featurization pass over the survivors
      // (identical result to score(dd, fit(target, dd)) — oracle-pinned)
      Dsir.fitScored(dd, col("doc_id") % 10 === 0, b = 256)
        .select("doc_id", "n_grams", "dsir_score_fp")
    }),

    // — DSIR importance resampling (target = every 10th doc as the
    //   "domain sample", raw = the whole corpus) —
    "dsir_weights" -> ((s, dir) => {
      // Par.spread: the hashed-n-gram featurization is the heavy map stage
      val docs = Par.spread(t(s, dir, "documents"))
      Dsir.fit(docs.where(col("doc_id") % 10 === 0), docs, b = 256)
    }),

    "dsir_scores" -> ((s, dir) => {
      // fused fit+score: one featurization pass (Dsir.fitScored; result
      // identical to score(docs, fit(target, docs)) — oracle-pinned)
      val docs = Par.spread(t(s, dir, "documents"))
      Dsir.fitScored(docs, col("doc_id") % 10 === 0, b = 256)
        .select("doc_id", "n_grams", "dsir_score_fp")
    }),

    "dsir_resample" -> ((s, dir) => {
      val docs = Par.spread(t(s, dir, "documents"))
      Dsir.fitResampled(docs, col("doc_id") % 10 === 0, k = 50, b = 256)
        .select("doc_id", "dsir_score_fp", "key_fp")
    }),

    // — context-window chunking —
    "chunk_text" -> ((s, dir) =>
      Chunker.chunk(t(s, dir, "documents"), maxChars = 64, overlap = 16)
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_text", "n_chunks")),

    "chunk_concat_diff" -> ((s, dir) =>
      // overlap=0 ⇒ chunks partition the text exactly: constant-zero oracle
      Chunker.chunk(t(s, dir, "documents"), maxChars = 50, overlap = 0)
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          c => c.getField("chunk_text")), "").as("rejoined"))
        .join(t(s, dir, "documents"), Seq("doc_id"))
        .where(col("rejoined") =!= coalesce(col("text"), lit("")))
        .agg(count(lit(1)).as("n_mismatch"))),

    // — Lloyd-refined k-means codebook over the embeddings —
    "kmeans_centroids" -> ((s, dir) =>
      Similarity.kmeans(t(s, dir, "embeddings"), nCentroids = 4, iters = 2)),

    "search_bm25_indexed" -> ((s, dir) => {
      // build-once/serve-many: persist the index, then answer the same
      // probe batch from it — must hash-equal the inline search_bm25 oracle
      val path = java.nio.file.Files
        .createTempDirectory("graft-bm25-index").toString
      Search.buildIndex(t(s, dir, "documents"), path)
      Search.bm25TopKIndexed(s, path,
        s.createDataFrame(Seq((0, "hash join spark"), (1, "window sort merge"),
          (2, "customer query table"))).toDF("query_id", "query"),
        k = 10)
    }),

    // — corpus audit census: every (lang, source) rollup level in one
    //   pass (partial-aggregated; the rollup only multiplies the tiny
    //   group frame, never the scan) —
    "corpus_report" -> ((s, dir) =>
      // avg is fixed-point (chars*100 per doc, exact integer division) so
      // the oracle row hash carries no float bits at all
      t(s, dir, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("avg_chars_fp", expr("(sum_chars * 100L) div n_docs"))),

    "kmeans_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansAssign(emb,
        Similarity.kmeans(emb, nCentroids = 4, iters = 2))
    }),

    // — PCA self-check: constant-row oracle (the fitted basis must be
    //   orthonormal, eigen-ordered, and variance-consistent on live data) —
    "pca_invariants" -> ((s, dir) =>
      graft.ops.Pca.invariants(t(s, dir, "embeddings"), k = 8)),

    // — exact repeated-passage dedup over the planted corpus —
    "passage_repeats" -> ((s, dir) =>
      Passage.repeated(passageCorpus(s, dir), n = 8)
        .select("doc_id", "start_idx", "gram", "n_occ", "is_canonical")),

    "passage_strip" -> ((s, dir) =>
      Passage.strip(passageCorpus(s, dir), n = 8)
        .select("doc_id", "was_stripped", "text_stripped")),

    // — the full modern curation cascade as ONE composed operator:
    //   Gopher gate (cheap projection prunes first) → exact dedup
    //   (canonical keep) → repeated-passage strip → lang + token census —
    "curate_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gated = Gopher.withKeep(docs, minWords = 30, minStopHits = 0,
          minAlphaFrac = 0.5)
        .where(col("gopher_keep")).select("doc_id", "text")
      val deduped = Dedup.exact(gated).where(!col("is_dup"))
        .select("doc_id").join(gated, Seq("doc_id"))
      Passage.strip(deduped, n = 5)
        .select(col("doc_id"),
          TextStats.langId(col("text_stripped")).as("lang"),
          size(TextStats.words(col("text_stripped"))).as("n_tokens"),
          col("was_stripped"))
    }),

    // — decontamination & corpus mixing (benchmark = docs with id%50=3,
    //   a deterministic stand-in for a held-out eval suite) —
    "decon_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontam.overlap(docs,
        docs.where(col("doc_id") % 50 === 3)
          .select(col("doc_id").as("bench_id"), col("text")))
    }),

    "decon_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontam.decontaminate(docs,
        docs.where(col("doc_id") % 50 === 3)
          .select(col("doc_id").as("bench_id"), col("text")),
        maxFrac = 0.1)
        .select("doc_id", "lang", "source", "n_chars", "contamination")
    }),

    // — unicode canonicalization over a planted dirty corpus —
    "text_normalize" -> ((s, dir) =>
      TextNorm.withCanonical(
        t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 1,
            concat(lit(dirtyPrefix), col("text"), lit(dirtySuffix)))
            .otherwise(col("text")).as("text")))
        .select("doc_id", "text_norm", "n_chars_removed")),

    // — winnowing fingerprints (MOSS) —
    "winnow_fingerprints" -> ((s, dir) =>
      Winnow.docFingerprints(t(s, dir, "documents"), k = 8, w = 4)),

    "winnow_pairs" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 40)
        .select("doc_id", "text")
      val clones = t(s, dir, "documents").where(col("doc_id") < 10)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      Winnow.candidatePairs(base.unionByName(clones), k = 8, w = 4,
        minShared = 5)
    }),

    // — SFT example assembly over the transcripts view —
    "sft_render" -> ((s, dir) =>
      Sft.render(transcripts(s, dir))),

    "sft_mask_spans" -> ((s, dir) =>
      Sft.maskSpans(transcripts(s, dir))),

    // invariant: every loss-mask span cuts exactly its turn's text out of
    // the rendered conversation (constant-zero)
    "sft_mask_diff" -> ((s, dir) => {
      val tr = transcripts(s, dir)
      Sft.maskSpans(tr)
        .join(Sft.render(tr).withColumnRenamed("text", "rendered"), "conv_id")
        .join(tr, Seq("conv_id", "turn_idx"))
        .where(expr("substr(rendered, span_start + 1, span_end - span_start)")
          =!= coalesce(col("text"), lit("")))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "sft_truncate" -> ((s, dir) =>
      Sft.truncateTail(transcripts(s, dir), budgetToks = 300L)),

    // — role-alternation audit (SFT structural QA gate) —
    "sft_role_audit" -> ((s, dir) =>
      Sft.roleAudit(transcripts(s, dir))),

    // — composed transcript curation: budget-truncate → render → conv-level
    //   exact dedup (5 planted clone conversations must collapse) —
    "sft_corpus" -> ((s, dir) => {
      val base = transcripts(s, dir)
      val clones = base
        .where(col("conv_id").isin((0 until 5).map("conv" + _): _*))
        .withColumn("conv_id", concat(col("conv_id"), lit("x")))
      val tr = base.unionByName(clones)
      val kept = Sft.truncateTail(tr, budgetToks = 300L)
        .where(col("kept")).select("conv_id", "turn_idx")
        .join(tr, Seq("conv_id", "turn_idx"))
      val rendered = Sft.render(kept)
      val keepers = Dedup.exact(rendered, idCol = "conv_id", textCol = "text")
        .where(!col("is_dup")).select("conv_id")
      rendered.join(keepers, Seq("conv_id"))
        .select("conv_id", "n_turns", "n_chars")
    }),

    // (deconPhrase: exactly 13 lowercase words — one benchmark 13-gram)
    "decon_strip" -> ((s, dir) => {
      val phrase = deconPhrase
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 9 === 5, concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
      val bench = s.range(1).select(lit(phrase).as("text"))
      Decontam.stripOverlaps(corpus, bench)
        .select("doc_id", "was_stripped", "text_stripped")
    }),

    "sample_hash" -> ((s, dir) =>
      Decontam.hashSample(t(s, dir, "documents"), rate = 0.25, seed = "s42")
        .select("doc_id", "source")),

    "mix_corpus" -> ((s, dir) =>
      Decontam.mixCorpus(t(s, dir, "documents"),
        Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.25, "src3" -> 1.0))
        .select("doc_id", "source", "epoch")),

    // — UT1-style blocklist gate over the planted URL corpus —
    "url_blocklist" -> ((s, dir) => {
      import s.implicits._
      val dom = Seq(("delta.net", "ads"), ("m.alpha.com", "tracking"))
        .toDF("pattern", "category")
      val kw = Seq(("page/7", "spam")).toDF("keyword", "category")
      UrlOps.blockVerdict(urlCorpus(s, dir), dom, kw)
        .select("doc_id", "host", "blocked", "block_hit")
    }),

    // — α=0.5 temperature rebalance over a planted 60/30/10 source skew —
    "tmix_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 6, "big")
          .when(col("doc_id") % 10 < 9, "mid")
          .otherwise("small").as("src_bal"))
      Decontam.sqrtTemperatureSample(docs, targetRows = 250L,
        sourceCol = "src_bal")
        .select("doc_id", "src_bal", "n_source", "quota")
    }),

    // — corpus cleaning (boilerplate / repetition / PII) over views that
    //   deterministically plant the phenomena (footer lines, PII strings) —
    "clean_boiler_census" -> ((s, dir) =>
      CorpusClean.boilerplateLines(boilerCorpus(s, dir),
        minDocs = 2, minFrac = 0.05)),

    "clean_boiler_strip" -> ((s, dir) => {
      val docs = boilerCorpus(s, dir)
      CorpusClean.stripBoilerplate(docs,
        CorpusClean.boilerplateLines(docs, minDocs = 2, minFrac = 0.05))
        .select("doc_id", "text_clean")
    }),

    "clean_repetition" -> ((s, dir) =>
      CorpusClean.repetitionMetrics(t(s, dir, "documents"))),

    "clean_pii_redact" -> ((s, dir) =>
      CorpusClean.redactPii(piiCorpus(s, dir))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "text_redacted")),

    // — HTML main-content extraction (DOM-heuristic boilerplate strip)
    //   over documents wrapped in deterministic boilerplate-laden HTML —
    "mc_block_features" -> ((s, dir) =>
      MainContent.blockFeatures(htmlCorpus(s, dir))),

    "mc_main_content" -> ((s, dir) =>
      MainContent.mainContent(htmlCorpus(s, dir))
        .select("doc_id", "text_main", "n_blocks_kept")),

    "mc_density_content" -> ((s, dir) =>
      MainContent.densityContent(htmlCorpus(s, dir))
        .select("doc_id", "text_density", "n_blocks_kept")),

    // — trained quality classifier (NB log-ratio, fixed-point weights)
    //   on a corpus with planted low-quality (spam) documents —
    "qm_weights" -> ((s, dir) =>
      QualityModel.train(qualityCorpus(s, dir).where(col("doc_id") % 5 < 4))),

    // the composed prep pass with the TRAINED quality gate in place of the
    // heuristic floor: dedup first (score only survivors), classifier
    // keep-decision, lang tag — the full production ordering
    "prep_corpus_trained" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model =
        QualityModel.train(qualityCorpus(s, dir).where(col("doc_id") % 5 < 4))
      val kept = Dedup.keepCanonical(docs,
        Dedup.verifiedEdges(docs, k = 8, rowsPerBand = 4, tau = 0.5))
      QualityModel.score(kept, model)
        .where(col("label_hat") === 1)
        .join(docs.select(col("doc_id"),
          TextStats.langId(col("text")).as("lang")), Seq("doc_id"))
        .select("doc_id", "lang", "score_fp")
    }),

    "qm_scores" -> ((s, dir) => {
      val qc = qualityCorpus(s, dir)
      val model = QualityModel.train(qc.where(col("doc_id") % 5 < 4))
      QualityModel.score(qc.where(col("doc_id") % 5 === 4), model)
        .join(qc.select(col("doc_id"), col("label")), Seq("doc_id"))
        .select("doc_id", "label", "score_fp", "label_hat")
    }),

    // — sequence packing: fixed token-budget pack assignment, no global
    //   sort (per-bucket prefix-sum windows) —
    "pack_sequences" -> ((s, dir) =>
      graft.ops.Pack.packSequences(t(s, dir, "documents"),
        budget = 120, nBuckets = 8)),

    "pack_stats" -> ((s, dir) =>
      graft.ops.Pack.packStats(graft.ops.Pack.packSequences(
        t(s, dir, "documents"), budget = 120, nBuckets = 8))),

    // — bigram-LM cross-entropy (the perplexity-filter role): trained on
    //   the trusted real-text split, scoring the spam-planted corpus —
    "lm_model" -> ((s, dir) =>
      LangModel.train(qualityCorpus(s, dir)
        .where(col("label") === 1 && col("doc_id") % 5 < 4), minCount = 2)),

    "lm_xent" -> ((s, dir) => {
      val qc = qualityCorpus(s, dir)
      val model = LangModel.train(
        qc.where(col("label") === 1 && col("doc_id") % 5 < 4), minCount = 2)
      LangModel.xent(qc, model)
        .join(qc.select("doc_id", "label"), Seq("doc_id"))
        .select("doc_id", "label", "n_bigrams", "sum_fp", "xent")
    }),

    // — CCNet-style perplexity buckets over the trained bigram LM —
    "lm_ppx_buckets" -> ((s, dir) => {
      val qc = qualityCorpus(s, dir)
      val model = LangModel.train(
        qc.where(col("label") === 1 && col("doc_id") % 5 < 4), minCount = 2)
      // barrier the scored frame: Ppx.cuts (count + sample collect) AND the
      // final withBuckets projection both consume it — without the barrier
      // the whole xent pipeline (explode → model joins → doc aggregate)
      // re-runs for the final pass; with it the second consumer reuses the
      // doc-grain shuffle as skipped stages
      val scored = graft.extract.Chunked.barrier(LangModel.xent(qc, model))
      // exercises BOTH bounding legs: explicit rate < 1 AND the
      // count-derived maxSample cap (n·0.5 > 128 at sf0.01) — the driver
      // collect is never corpus-sized at any scale
      val c = Ppx.cuts(scored, sampleRate = 0.5, maxSample = 128)
      Ppx.withBuckets(scored, c.headCut, c.tailCut)
        .select("doc_id", "xent_fp", "ppx_bucket")
    }),

    // — multimodal plumbing (payload = utf-8 bytes of text; stub codec) —
    "mm_media_meta" -> ((s, dir) =>
      graft.ops.Multimodal.withMediaMeta(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")), kind = "image")
        .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.duration_ms").as("duration_ms"))),

    "mm_frames" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.withMediaMeta(
          t(s, dir, "documents").select(col("doc_id"),
            encode(col("text"), "UTF-8").as("payload")), kind = "video"),
        everyMs = 5000)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))),

    // — real header parse: PNG IHDR / JPEG SOF0 / GIF89a containers are
    //   built byte-for-byte from doc_id, and the probe must recover the
    //   true dimensions from the binary payload alone (the oracle derives
    //   the expected dims independently from doc_id) —
    "mm_header_probe" -> ((s, dir) => {
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      val wBe4 = lpad(hex(w), 8, "0"); val hBe4 = lpad(hex(h), 8, "0")
      val wBe2 = lpad(hex(w), 4, "0"); val hBe2 = lpad(hex(h), 4, "0")
      def le2(be2: Column) = concat(substring(be2, 3, 2), substring(be2, 1, 2))
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"), wBe4, hBe4,
        lit("0806000000000000"))
      val jpeg = concat(lit("FFD8FFC0001108"), hBe2, wBe2,
        lit("03010000020000030000"))
      val gif = concat(lit("474946383961"), le2(wBe2), le2(hBe2), lit("000000"))
      val payload = when(col("doc_id") % 4 === 0, unhex(png))
        .when(col("doc_id") % 4 === 1, unhex(jpeg))
        .when(col("doc_id") % 4 === 2, unhex(gif))
        .otherwise(encode(col("text"), "UTF-8"))
      graft.ops.Multimodal.withMediaMeta(
        t(s, dir, "documents").select(col("doc_id"), payload.as("payload")))
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
    }),

    // — real image embedding end-to-end: two-color 32x32 PNGs are ENCODED
    //   from doc_id arithmetic (javax.imageio), then decoded and embedded
    //   by patchEmbedding; because luma accumulates as exact integers the
    //   oracle derives every float component closed-form from doc_id with
    //   no decoder on the SQL side. Scalar grain (doc_id, pos, value) —
    "mm_embed" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 64).as[Long]
      val payloads = ids.map { id =>
        val (w, h) = (32, 32)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val cA = new java.awt.Color(((id * 37) % 256).toInt,
          ((id * 59) % 256).toInt, ((id * 83) % 256).toInt).getRGB
        val cB = new java.awt.Color(((id * 41 + 7) % 256).toInt,
          ((id * 67 + 11) % 256).toInt, ((id * 89 + 13) % 256).toInt).getRGB
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, if (x < w / 2) cA else cB); x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
      graft.ops.Multimodal.extractEmbedding(payloads, grid = 4)
        .select(col("doc_id"), posexplode(col("media_embedding")))
        .toDF("doc_id", "pos", "value")
    }),

    // — real audio/video container probe: WAV RIFF and MP4 ISO-BMFF
    //   payloads are built byte-for-byte from doc_id, and the probe must
    //   recover true duration / sample rate / channels / video dims from
    //   the binary payload alone (the oracle re-derives every expectation
    //   from doc_id arithmetic) —
    "mm_av_probe" -> ((s, dir) => {
      def le2(v: Column) = { val b = lpad(hex(v), 4, "0")
        concat(substring(b, 3, 2), substring(b, 1, 2)) }
      def le4(v: Column) = { val b = lpad(hex(v), 8, "0")
        concat(substring(b, 7, 2), substring(b, 5, 2),
          substring(b, 3, 2), substring(b, 1, 2)) }
      def be2x(v: Column) = lpad(hex(v), 4, "0")
      def be4x(v: Column) = lpad(hex(v), 8, "0")

      // 44-byte canonical WAV: RIFF(36) WAVE fmt(16: PCM, ch, rate) data
      // whose declared size is byteRate*k -> duration exactly k*1000 ms.
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val sr = (col("doc_id") % 8 * 1000 + 8000).cast("int")
      val byteRate = sr * ch * lit(2)
      val dataSz = byteRate * (col("doc_id") % 5 + 1).cast("int")
      val wav = concat(
        lit("52494646" + "24000000" + "57415645" + // RIFF size WAVE
          "666D7420" + "10000000" + "0100"),       // fmt_ 16 pcm
        le2(ch), le4(sr), le4(byteRate), le2(ch * 2),
        lit("1000" + "64617461"), le4(dataSz))     // bits=16, data, size

      // minimal ISO-BMFF: ftyp(16) + moov(216){ mvhd v0(108: scale=1000,
      // dur) + trak(100){ tkhd v0(92: 16.16 width/height at +76/+80) } }
      val vw = (col("doc_id") % 1280 + 16).cast("int")
      val vh = (col("doc_id") % 720 + 16).cast("int")
      val durMp4 = ((col("doc_id") % 7 + 1) * 500).cast("int")
      val mp4 = concat(
        lit("00000010" + "66747970" + "69736F6D" + "00000000" + // ftyp isom
          "000000D8" + "6D6F6F76" +                             // moov
          "0000006C" + "6D766864" + "00000000" +                // mvhd v0
          "00000000" + "00000000" + "000003E8"),                // scale 1000
        be4x(durMp4), lit("00" * 80),                           // dur + pad
        lit("00000064" + "7472616B" +                           // trak
          "0000005C" + "746B6864" + "0000000F" +                // tkhd v0
          "00000000" + "00000000" + "00000001"), lit("00" * 60),
        be2x(vw), lit("0000"), be2x(vh), lit("0000"))           // 16.16 dims

      val payload = when(col("doc_id") % 3 === 0, unhex(wav))
        .when(col("doc_id") % 3 === 1, unhex(mp4))
        .otherwise(encode(col("text"), "UTF-8"))
      graft.ops.Multimodal.withMediaMeta(
        t(s, dir, "documents").select(col("doc_id"), payload.as("payload")),
        kind = "video")
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.duration_ms").as("duration_ms"),
          col("media_meta.sample_rate").as("sample_rate"),
          col("media_meta.channels").as("channels"))
    }),

    // — full-pipeline surfaces (not SQL-expressible: rows-only checks) —
    "f5_size_guard" -> ((s, dir) =>
      Structure.sizeGuard(Structure.keptLines(convTranscripts(s, dir)),
        maxLines = 9, maxBlocks = 1000)
        .groupBy("conv_id").agg(count(lit(1)).as("n_lines"))),

    "w10_body_labels" -> ((s, dir) =>
      Pipeline.labeledBodyTokens(transcripts(s, dir))
        .select("conv_id", "turn_idx", "tok_idx", "tok", "label")),

    "pipeline_spans" -> ((s, dir) =>
      Pipeline.extract(transcripts(s, dir))),

    "pipeline_doc_spans" -> ((s, dir) =>
      // document-mode cascade (stage-1 content zoning, no role signal):
      // one document = one conversation
      Pipeline.extractDocuments(t(s, dir, "documents")
        .select(concat(lit("doc"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), col("text")))),

    "tei_documents" -> ((s, dir) => {
      // A10 TEI wrapper + A5 lang-ID over the segmenter's zone spans —
      // fully SQL-expressible (the FSM-labeled body TEI is the rows-only
      // sibling tei_body_documents, byte-covered by AssemblyFixtureSpec)
      val zoned = Labeler.zones(
        Features.segmenter(Structure.keptLines(convTranscripts(s, dir))))
      Assemble.teiDocuments(Assemble.zoneSpans(zoned))
    }),

    "tei_body_documents" -> ((s, dir) =>
      Pipeline.extractTei(transcripts(s, dir))),

    "blank_training_tei" -> ((s, dir) =>
      // annotator-facing blank-training skeleton (reference
      // createBlankTrainingFromPDF): wrapper + escaped raw text, no labels
      Assemble.blankTrainingTei(transcripts(s, dir))),

    "blank_body_tei" -> ((s, dir) =>
      // body-grain twin (reference createTrainingBlankBody): only the
      // stage-1 body-zone text, escaped, unlabeled, same wrapper
      Assemble.blankTrainingBodyTei(
        Labeler.zones(Features.segmenter(Structure.keptLines(convTranscripts(s, dir))))
          .where(col("zone") === "<body>"))),

    "tei_sharded_diff" -> ((s, dir) => {
      // sharded-TEI contract as a driver-checked invariant: concatenating
      // the (conv_id, shard_idx, tei) fragments in shard order must be
      // byte-identical to the one-string teiDocuments output. shardTurns=2
      // so every conversation really splits. Constant-empty oracle.
      // two INDEPENDENT plan constructions (same result): sharing one
      // `spans` object across both exceptAll branches trips Catalyst's
      // conflicting-reference resolution
      val whole = Assemble.teiDocuments(Pipeline.extract(transcripts(s, dir)))
      val glued = Assemble.teiDocumentsSharded(
        Pipeline.extract(transcripts(s, dir)), shardTurns = 2)
        .groupBy("conv_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("shard_idx"), col("tei")))),
          s => s.getField("tei")), "").as("tei"))
      whole.exceptAll(glued).union(glued.exceptAll(whole))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "tei_doc_sharded_diff" -> ((s, dir) => {
      // document-mode sibling of tei_sharded_diff: the same shard-vs-
      // monolith byte-equality, but over the DOCUMENT-mode cascade
      // (trained stage-1 zoning, no role signal). Documents are split into
      // sentence-grain turns so shardTurns=2 genuinely fragments every
      // conversation. Constant-empty oracle; independent plan
      // constructions per branch (see tei_sharded_diff note).
      def docs = t(s, dir, "documents")
        .select(concat(lit("doc"), col("doc_id")).as("conv_id"),
          posexplode(split(col("text"), "\\.\\s+")).as(Seq("turn_idx", "text")))
      val whole = Assemble.teiDocuments(Pipeline.extractDocuments(docs))
      val glued = Assemble.teiDocumentsSharded(
        Pipeline.extractDocuments(docs), shardTurns = 2)
        .groupBy("conv_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("shard_idx"), col("tei")))),
          x => x.getField("tei")), "").as("tei"))
      whole.exceptAll(glued).union(glued.exceptAll(whole))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "pipeline_rebuild_diff" -> ((s, dir) => {
      // spans-rebuild invariant for the rows-only pipeline_spans: the
      // extracted span texts — XML-unescaped, concatenated in segment
      // order, whitespace stripped — must reproduce the body-zone source
      // lines' non-whitespace characters EXACTLY, per conversation. This
      // pins tokenize → features → FSM → assembly as lossless against the
      // source text, independently of the declarative/chunked twins.
      val trns = transcripts(s, dir)
      val lhs = spanChars(Pipeline.extract(trns))
      val rhs = lineChars(
        Labeler.zones(Features.segmenter(Structure.keptLines(trns)))
          .where(col("zone") === "<body>"))
      lhs.exceptAll(rhs).union(rhs.exceptAll(lhs))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "doc_rebuild_diff" -> ((s, dir) => {
      // document-mode sibling of pipeline_rebuild_diff: the doc-mode span
      // texts must reproduce exactly the characters of the body lines the
      // trained stage-1 zoner keeps — second independent pin for the
      // rows-only pipeline_doc_spans (with doc_chunked_diff).
      def docs = t(s, dir, "documents")
        .select(concat(lit("doc"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), col("text"))
      val lhs = spanChars(Pipeline.extractDocuments(docs))
      val rhs = lineChars(Pipeline.documentBodyLines(docs))
      lhs.exceptAll(rhs).union(rhs.exceptAll(lhs))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "w10_label_spans_diff" -> ((s, dir) => {
      // label-stream ↔ span-output invariant, the oracle-checkable cover
      // for the rows-only w10_body_labels: per (conv, label), the number of
      // spans the body-walk operator's span sink emits must equal the
      // number of BIO span starts that the declarative withSegmentIds finds
      // in its label sink's stream — two span-boundary rules that must
      // agree. Constant-empty oracle, pipeline_chunked_diff-style.
      val trns = transcripts(s, dir)
      val fromLabels = Assemble.withSegmentIds(
        Pipeline.labeledBodyTokens(trns),
        Seq("turn_idx", "line_in_turn", "tok_idx"))
        .groupBy(col("conv_id"), col("label_base"))
        .agg(sum(when(col("span_start"), 1L).otherwise(0L)).as("n_spans"))
      val fromSpans = Pipeline.extract(trns)
        .groupBy(col("conv_id"), col("label").as("label_base"))
        .agg(count(lit(1)).as("n_spans"))
      fromLabels.exceptAll(fromSpans).union(fromSpans.exceptAll(fromLabels))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "pipeline_declarative_diff" -> ((s, dir) => {
      // third independent implementation pinned at driver level: the
      // custom-physical-operator extraction vs the pure-Catalyst
      // declarative assembly (windows + groupBy over the FSM labels) must
      // be row-identical. Together with w10_label_spans_diff and
      // pipeline_chunked_diff, every FSM-path surface is cross-checked by
      // at least one constant-empty invariant.
      val a = Pipeline.extract(transcripts(s, dir))
      val b = Pipeline.extractDeclarative(transcripts(s, dir))
      a.exceptAll(b).union(b.exceptAll(a))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "w10_chunked_diff" -> ((s, dir) => {
      // second independent pin for the rows-only w10_body_labels: the
      // TOKEN-LABEL stream (not just the spans) must be row-identical
      // between the monolith FSM and the chunk-parallel FSM. chunkTurns=8
      // so sf conversations really split. Constant-empty oracle.
      val trns = transcripts(s, dir)
      val cols = Seq("conv_id", "turn_idx", "tok_idx", "tok", "label")
      val a = Pipeline.labeledBodyTokens(trns).select(cols.map(col): _*)
      val b = Pipeline.labeledBodyTokensChunked(trns, chunkTurns = 8,
        materialize = false).select(cols.map(col): _*)
      a.exceptAll(b).union(b.exceptAll(a))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "pipeline_chunked_diff" -> ((s, dir) => {
      // giant-conversation path equivalence as an ORACLE-checkable
      // invariant: the symmetric difference between the flagship
      // single-exchange extraction and the chunk-parallel twin
      // (Pipeline.extractChunked, ChunkedPipelineSpec) must be empty.
      // chunkTurns=8 so the sf conversations really do split into many
      // chunks, exercising every boundary stitch on driver data.
      val trns = transcripts(s, dir)
      val a = Pipeline.extract(trns)
      val b = Pipeline.extractChunked(trns, chunkTurns = 8)
      a.exceptAll(b).union(b.exceptAll(a))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "doc_chunked_diff" -> ((s, dir) => {
      // document-mode giant-document path equivalence as an ORACLE-checkable
      // invariant (pipeline_chunked_diff's sibling for the content-zoned
      // cascade): sequential extractDocuments vs the chunk-parallel twin
      // must be row-identical. Transcript-shaped input (multi-turn convs)
      // so chunkTurns=4 really splits; role/tool columns are dropped —
      // document mode zones by CONTENT.
      val docs = transcripts(s, dir).select("conv_id", "turn_idx", "text")
      val a = Pipeline.extractDocuments(docs)
      val b = Pipeline.extractDocumentsChunked(docs, chunkTurns = 4)
      a.exceptAll(b).union(b.exceptAll(a))
        .agg(count(lit(1)).as("n_mismatch"))
    }),

    "k1_feature_vectors" -> ((s, dir) => {
      val toks = tokensOf(s, dir)
      Features.body(toks)
        .withColumn("vector", Features.bodyVector(null))
        .select("conv_id", "turn_idx", "tok_idx", "vector")
    }),

    "sim_brute_vs_lsh_recall" -> ((s, dir) =>
      // ANN quality harness: OR-amplified multi-table SRP, recall@5 as a
      // NUMBER per query (zero-hit queries included, not dropped)
      recallAt5(t(s, dir, "embeddings"), (e, q) =>
        // multiProbe pinned OFF: the oracle replays plain table∪bucket
        // candidates; the multi-probe point is pinned by sim_ann_recall
        Similarity.lshTopK(e, q, k = 5, planes = 4, tables = 16,
          multiProbe = false))),

    "sim_brute_vs_ivf_recall" -> ((s, dir) =>
      // same recall harness for the IVF-flat scale path (nProbe=6 here is
      // the quality measurement point; ivfTopK's retuned default is
      // nProbe=12 — see the sim_ann_recall curve that chose it)
      recallAt5(t(s, dir, "embeddings"), (e, q) =>
        Similarity.ivfTopK(e, q, k = 5, nCentroids = 16, nProbe = 6))),

    // — agent-trajectory structural QA (ops/Agent.scala) —
    "agent_tool_audit" -> ((s, dir) =>
      graft.ops.Agent.toolAudit(agentTranscripts(s, dir))),

    "agent_tool_stats" -> ((s, dir) =>
      graft.ops.Agent.toolStats(agentTranscripts(s, dir))),

    "agent_loop_runs" -> ((s, dir) =>
      graft.ops.Agent.loopRuns(agentTranscripts(s, dir), minRun = 3)),

    // conversation-prefix dedup over the base transcripts plus planted
    // prefix clones (conv0-4 truncated to 6 turns) and equal-length exact
    // clones (conv5-7) — re-logged agent sessions produce exactly these
    "agent_prefix_dedup" -> ((s, dir) => {
      val base = transcripts(s, dir)
      val pclones = base
        .where(col("conv_id").isin((0 until 5).map("conv" + _): _*) &&
          col("turn_idx") < 6)
        .withColumn("conv_id", concat(col("conv_id"), lit("p")))
      val fclones = base
        .where(col("conv_id").isin((5 until 8).map("conv" + _): _*))
        .withColumn("conv_id", concat(col("conv_id"), lit("x")))
      graft.ops.Agent.prefixDedup(
        base.unionByName(pclones).unionByName(fclones))
    }),

    // structural repair over a corpus with planted orphans (convs ≡2 mod
    // 5 via the 'bad' result name), mistags (≡3 mod 7), and split
    // same-role runs (turn 5 re-roled assistant in convs ≡0 mod 3)
    "agent_repair" -> ((s, dir) =>
      graft.ops.Agent.repair(messyAgentTranscripts(s, dir))),

    // invariant: repaired transcripts audit free of orphans and mistags
    "agent_repair_valid" -> ((s, dir) =>
      graft.ops.Agent.toolAudit(
        graft.ops.Agent.repair(messyAgentTranscripts(s, dir)))
        .agg((sum(col("n_orphan_results")) + sum(col("n_mistagged")))
          .as("n_bad"))),

    // composed agent-corpus curation: structural repair → prefix dedup →
    // SFT render, over the messy corpus PLUS re-logged prefix clones
    // (conv0-2 truncated to 6 turns). The cascade is the full hygiene
    // pipeline an agent-trajectory training set runs; every stage is
    // individually oracle-pinned and the composition replays in one SQL.
    "agent_corpus" -> ((s, dir) => {
      val base = messyAgentTranscripts(s, dir)
      val clones = base
        .where(col("conv_id").isin((0 until 3).map("conv" + _): _*) &&
          col("turn_idx") < 6)
        .withColumn("conv_id", concat(col("conv_id"), lit("p")))
      // barrier the repaired frame: THREE consumers below (prefixDedup's
      // slim scan, its verification re-read, and the final render join)
      // would each re-plan — and re-run — the whole two-window repair
      // cascade; the barrier shares one lineage so its shuffle stages run
      // once and the composed plan stays small
      val rep = graft.extract.Chunked.barrier(
        graft.ops.Agent.repair(base.unionByName(clones)))
      val keep = graft.ops.Agent.prefixDedup(rep)
        .where(!col("is_prefix_dup")).select("conv_id")
      Sft.render(rep.join(keep, Seq("conv_id")))
        .select("conv_id", "n_turns", "n_chars")
    }),

    // passage→document embedding rollup: exact fixed-point mean pooling
    // (micro-unit longs — order-independent, unlike float sums). Driver
    // grain is scalar (group_id, n_vecs, pos, component) via the
    // explode-FIRST twin — map-side-combinable and codegen-clean, unlike
    // posexplode over the array API's nested-lambda output (which cost
    // 4-5x in plan/codegen alone). The array-returning meanPoolFp stays
    // the API; SimilaritySpec pins the two forms equal.
    "emb_mean_pool" -> ((s, dir) =>
      // no spread: the map work (posexplode + partial sum) is too light to
      // amortize an exchange at local scale (measured 0.53 → 0.88 s with it)
      Similarity.meanPoolFpScalar(t(s, dir, "embeddings"),
        expr("vec_id div 10"))),

    // LSH banding auto-tuner (MMDS S-curve): fixed-point so the DuckDB
    // mirror replays the same argmin + probabilities exactly
    "dedup_lsh_plan" -> ((s, dir) => {
      val plans = Seq(0.3, 0.5, 0.7, 0.9).map { tau =>
        val p = Dedup.lshPlan(16, tau)
        (math.round(tau * 1000000L), p.rowsPerBand, p.bands,
          math.round(p.threshold * 1000000), math.round(p.pAtTau * 1000000))
      }
      import s.implicits._
      plans.toDF("tau_fp", "rows_per_band", "bands",
        "threshold_fp", "p_at_tau_fp")
    }),

    // turn-grain PII redaction over transcripts (planted PII on turn 3)
    "agent_pii_redact" -> ((s, dir) =>
      CorpusClean.redactPii(
        transcripts(s, dir).withColumn("text",
          when(col("turn_idx") === 3, concat(col("text"),
            lit(" contact a@b.com from 10.0.0.1 call 555 123 4567")))
            .otherwise(col("text"))))
        .select("conv_id", "turn_idx", "n_emails", "n_ips", "n_phones",
          "text_redacted")),

    // corpus-report quantile census: exact per-source length quantiles
    // (rank rule floor((n-1)q/1000) — mirrorable, unlike percentile_approx)
    "corpus_quantiles" -> ((s, dir) =>
      TextStats.groupQuantiles(t(s, dir, "documents"), "source",
        col("n_chars"))),

    // the bounded-sample leg driver-pinned: per-group rate capped at
    // maxSamplePerGroup/n_group (the 10⁹-row-group safety path), hash
    // predicate replayed exactly by the oracle
    "corpus_quantiles_sampled" -> ((s, dir) =>
      TextStats.groupQuantiles(t(s, dir, "documents"), "source",
        col("n_chars"), maxSamplePerGroup = 40)),

    // conversation-grain NEAR-dedup: render each conv to one training
    // string, then MinHash LSH → Jaccard-verified edges → components →
    // keep min-id. Planted: conv0-9 cloned with ' extra' appended to the
    // last turn — near (not exact) duplicates prefixDedup cannot catch.
    "agent_near_dup" -> ((s, dir) => {
      val base = transcripts(s, dir)
      val clones = base
        .where(col("conv_id").isin((0 until 10).map("conv" + _): _*))
        .withColumn("conv_id", concat(col("conv_id"), lit("n")))
        .withColumn("text",
          when(col("turn_idx") === 9, concat(col("text"), lit(" extra")))
            .otherwise(col("text")))
      // the rendered frame feeds minhash, Jaccard verification AND the
      // keep-join — materialize the render shuffle once
      val docs = Sft.render(base.unionByName(clones))
        .select(col("conv_id"), col("text")).localCheckpoint()
      val edges = Dedup.verifiedEdges(docs, k = 8, rowsPerBand = 4,
        tau = 0.5, idCol = "conv_id", textCol = "text")
      Dedup.keepCanonical(docs, edges, idCol = "conv_id")
        .select("conv_id")
    }),

    // Bloom-accelerated incremental exact dedup: yesterday's corpus is
    // docs 0-399, today's batch re-crawls 300-499 under new ids — the
    // 300-399 overlap must be dropped without shuffling the corpus
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 400).select("doc_id", "text")
      val batch = docs.where(col("doc_id") >= 300)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.incrementalExact(batch, corpus, expectedItems = 400L)
    })
  )

  // ------------------------------------------------------------- oracles —

  private val zoneCte =
    s"""$transcriptsCte,
       |pats AS (
       |  SELECT conv_id, lower(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS pattern
       |  FROM transcripts WHERE trim(coalesce(text,''), ' ') <> ''),
       |patcnt AS (
       |  SELECT conv_id, pattern, count(*) AS cnt FROM pats
       |  WHERE length(pattern) > 8 GROUP BY 1, 2),
       |zl AS (
       |  SELECT t.conv_id, t.turn_idx,
       |    CASE
       |      WHEN coalesce(pc.cnt, 0) > 1 THEN '<other>'
       |      WHEN t.role = 'tool' OR t.tool IS NOT NULL THEN '<other>'
       |      WHEN t.role = 'system' AND t.turn_idx = 0 THEN '<front>'
       |      WHEN t.role = 'system' AND t.turn_idx =
       |        max(t.turn_idx) OVER (PARTITION BY t.conv_id) THEN '<back>'
       |      WHEN t.role = 'system' THEN '<other>'
       |      ELSE '<body>' END AS zone,
       |    t.text
       |  FROM transcripts t
       |  LEFT JOIN patcnt pc ON pc.conv_id = t.conv_id AND pc.pattern =
       |    lower(regexp_replace(t.text, '[^\\p{L}]', '', 'g'))
       |  WHERE trim(coalesce(t.text,''), ' ') <> ''),
       |chg AS (
       |  SELECT conv_id, turn_idx, zone, text,
       |    CASE WHEN zone IS DISTINCT FROM
       |      lag(zone) OVER (PARTITION BY conv_id ORDER BY turn_idx)
       |      THEN 1 ELSE 0 END AS is_chg
       |  FROM zl),
       |segs AS (
       |  SELECT conv_id, turn_idx, zone, text,
       |    CAST(sum(is_chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
       |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment_id
       |  FROM chg)""".stripMargin

  val oracles: Map[String, String] = Map(
    "w10_label_spans_diff" ->
      // the Spark side computes the symmetric difference between the FSM
      // label stream's BIO span starts and the custom operator's emitted
      // spans, per (conv, label); the contract is that it is EMPTY
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "pipeline_chunked_diff" ->
      // the Spark side computes the symmetric difference between the
      // sequential and chunk-parallel extraction paths; its contract is
      // that the difference is EMPTY, which the oracle pins as a constant
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "doc_chunked_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "w10_chunked_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "tei_sharded_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "tei_doc_sharded_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "sim_two_level_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "sim_ivfpq_two_level_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "sim_ann_recall" -> simAnnRecallOracle,

    "pipeline_rebuild_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "doc_rebuild_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "pipeline_declarative_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "q1_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q2_join_agg" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q3_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,

    "q4_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id,
        |    sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |c AS (SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_sess_events
        |FROM c GROUP BY user_id""".stripMargin,

    "q5_asof_lag" ->
      """SELECT event_id, user_id, round(value - prev_value, 4) AS value_delta FROM (
        |  SELECT event_id, user_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events) WHERE prev_value IS NOT NULL""".stripMargin,

    "q6_tumbling" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "f1_filter_lines" ->
      s"""WITH $transcriptsCte, $keptLinesCtes
         |SELECT conv_id, turn_idx, line_in_turn FROM klines WHERE kept""".stripMargin,

    "s2_tokenize" ->
      s"""WITH $transcriptsCte, $keptLinesCtes, $lineToksCte
         |SELECT conv_id, turn_idx, tok_idx, tok FROM ltoks""".stripMargin,

    "w2_statuses" -> w2StatusesSql,

    "w2_statuses_chunked" -> w2StatusesSql,

    "w5_font_status" ->
      s"""WITH $transcriptsCte, $keptLinesCtes, $segLinesCte,
         |l AS (SELECT conv_id, turn_idx, role,
         |        CASE role WHEN 'system' THEN 3 WHEN 'tool' THEN 1 ELSE 2 END AS fsz,
         |        lag(role) OVER wc AS prole,
         |        lag(CASE role WHEN 'system' THEN 3 WHEN 'tool' THEN 1 ELSE 2 END)
         |          OVER wc AS pfsz
         |      FROM slines
         |      WINDOW wc AS (PARTITION BY conv_id
         |                    ORDER BY turn_idx, line_in_turn))
         |SELECT conv_id, turn_idx,
         |  CASE WHEN prole IS NULL OR prole <> role THEN 'NEWFONT'
         |       ELSE 'SAMEFONT' END AS font_status,
         |  CASE WHEN pfsz IS NULL THEN 'HIGHERFONT'
         |       WHEN fsz = pfsz THEN 'SAMEFONTSIZE'
         |       WHEN fsz > pfsz THEN 'HIGHERFONT'
         |       ELSE 'LOWERFONT' END AS font_size_status
         |FROM l""".stripMargin,

    "w8_positions" ->
      s"""WITH $transcriptsCte, $keptLinesCtes, $segLinesCte,
         |p AS (SELECT conv_id, turn_idx, line_in_turn, block_idx,
         |        length(line) AS ll,
         |        coalesce(sum(length(line) + 1) OVER (PARTITION BY conv_id
         |          ORDER BY turn_idx, line_in_turn
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn,
         |        sum(length(line) + 1) OVER (PARTITION BY conv_id) AS doc_len,
         |        max(length(line)) OVER (PARTITION BY conv_id, turn_idx,
         |          block_idx) AS mll
         |      FROM slines),
         |p2 AS (SELECT *, first_value(nn) OVER (PARTITION BY conv_id, turn_idx,
         |         block_idx ORDER BY line_in_turn) AS block_nn
         |       FROM p)
         |SELECT conv_id, turn_idx,
         |  CASE WHEN doc_len <= 0 THEN 0 WHEN block_nn >= doc_len THEN 12
         |       WHEN block_nn <= 0 THEN 0
         |       ELSE CAST(floor(block_nn * 12.0 / doc_len) AS INT)
         |  END AS rel_doc_pos,
         |  CASE WHEN mll <= 0 THEN 0 WHEN ll >= mll THEN 10
         |       WHEN ll <= 0 THEN 0 ELSE CAST(floor(ll * 10.0 / mll) AS INT)
         |  END AS line_length_bin
         |FROM p2""".stripMargin,

    "scalar_features" ->
      s"""WITH $transcriptsCte, $keptLinesCtes, $lineToksCte
         |SELECT conv_id, turn_idx, tok_idx,
         |  CASE WHEN regexp_matches(tok, '^\\p{Nd}+$$') THEN 'NOCAPS'
         |       WHEN NOT regexp_matches(tok, '\\p{Ll}') THEN 'ALLCAP'
         |       WHEN regexp_matches(substr(tok, 1, 1), '^\\p{Lu}') THEN 'INITCAP'
         |       ELSE 'NOCAPS' END AS capitalisation,
         |  CASE WHEN regexp_matches(tok, '^\\p{Nd}+$$') THEN 'ALLDIGIT'
         |       WHEN regexp_matches(tok, '\\p{Nd}') THEN 'CONTAINSDIGITS'
         |       ELSE 'NODIGIT' END AS digit,
         |  CASE WHEN tok IN ('(', '[') THEN 'OPENBRACKET'
         |       WHEN tok IN (')', ']') THEN 'ENDBRACKET'
         |       WHEN tok = '.' THEN 'DOT' WHEN tok = ',' THEN 'COMMA'
         |       WHEN tok = '-' THEN 'HYPHEN'
         |       WHEN tok IN ('"', '''', '`') THEN 'QUOTE'
         |       WHEN regexp_matches(tok, '^[,:;?.]+$$') THEN 'PUNCT'
         |       ELSE 'NOPUNCT' END AS punct_type,
         |  CASE WHEN length(tok) = 1 THEN '1' ELSE '0' END AS single_char
         |FROM ltoks""".stripMargin,

    "a1_conv_stats" ->
      s"""WITH $transcriptsCte
         |SELECT conv_id, count(*) AS n_turns, CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  max(length(text)) AS max_turn_chars,
         |  count(DISTINCT role) AS n_roles
         |FROM transcripts GROUP BY conv_id""".stripMargin,

    "a2_repetitive" ->
      s"""WITH $transcriptsCte
         |SELECT conv_id, lower(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS pattern,
         |  count(*) AS cnt
         |FROM transcripts
         |WHERE length(lower(regexp_replace(text, '[^\\p{L}]', '', 'g'))) > 8
         |GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "a7_zone_segments" ->
      s"""WITH $zoneCte
         |SELECT conv_id, segment_id, min(zone) AS zone, count(*) AS n_lines
         |FROM segs GROUP BY conv_id, segment_id""".stripMargin,

    "w11_zones_content" ->
      s"""WITH $transcriptsCte,
         |kl AS (
         |  SELECT conv_id, turn_idx, 0 AS line_in_turn, trim(text, ' ') AS line
         |  FROM transcripts
         |  WHERE text IS NOT NULL AND trim(text, ' ') <> ''
         |    AND text NOT LIKE '%@IMAGE%' AND text NOT LIKE '%@PAGE%'
         |    AND text NOT LIKE '%.pbm%' AND text NOT LIKE '%.svg%'
         |    AND text NOT LIKE '%.png%' AND text NOT LIKE '%.jpg%'),
         |p AS (
         |  SELECT conv_id, turn_idx, line_in_turn, line,
         |    row_number() OVER wo AS line_no,
         |    (regexp_matches(line, '^[*"«''~]?[0-9]+([-_–−.\\s*]|$$)') OR
         |     regexp_matches(line, '^[iIjJ!,][0-9]+')) AS is_mark,
         |    regexp_matches(line, '^[*"«''~]?[0-9]+\\s*[-_–−.]') AS is_strong,
         |    (length(line) <= 50 AND (
         |       regexp_matches(line, '(?i)prix\\s+d(es|'')?\\s*adjudications?') OR
         |       regexp_matches(line, '(?i)r[ée]sultats?\\s+des?\\s+ench[èe]res') OR
         |       regexp_matches(line, '(?i)bases\\s+d.[ée]valuations?') OR
         |       regexp_matches(line, '(?i)commande\\s+[ée]manant') OR
         |       regexp_matches(line, '(?i)^annexe$$'))) AS is_trigger,
         |    (length(line) > 6 AND
         |     2 * length(regexp_replace(line, '[^.]', '', 'g')) > length(line)) AS is_form,
         |    (regexp_matches(line, '^[0-9]{1,4}$$') OR
         |     (length(regexp_replace(line, '[\\p{L}0-9]', '', 'g')) = length(line)
         |      AND length(line) <= 8)) AS is_pagenum,
         |    (length(line) >= 10 AND
         |     5 * length(regexp_replace(line, '[^\\p{L}]', '', 'g')) <
         |       2 * length(line)) AS is_garbage,
         |    (regexp_matches(line, '^[*"«''~]?[0-9]+\\s*[-_–−.]') OR
         |     length(regexp_replace(line, '[^\\p{L}]', '', 'g')) >= 2)
         |      AS is_contentful,
         |    lower(regexp_replace(line, '[^\\p{L}]', '', 'g')) AS pattern
         |  FROM kl
         |  WINDOW wo AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn)),
         |pp AS (
         |  SELECT *, (length(pattern) > 2 AND length(line) <= 30 AND
         |    count(*) OVER (PARTITION BY conv_id, pattern) >= 3) AS is_repetitive,
         |    CASE WHEN is_mark THEN try_cast(nullif(
         |      regexp_extract(line, '^[*"«''~]?([0-9]{1,6})', 1), '') AS INT)
         |    END AS mark_num
         |  FROM p),
         |q AS (
         |  SELECT *,
         |    avg(CASE WHEN is_mark THEN 1.0 ELSE 0.0 END) OVER wn AS mark_frac,
         |    sum(CASE WHEN is_strong THEN 1 ELSE 0 END) OVER ws AS strong_cnt,
         |    sum(CASE WHEN is_strong THEN 1 ELSE 0 END) OVER wb AS strong_bwd,
         |    list(mark_num) OVER wp AS prev_nums
         |  FROM pp
         |  WINDOW wn AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING),
         |         ws AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING),
         |         wb AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 20 PRECEDING AND CURRENT ROW),
         |         wp AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 15 PRECEDING AND 1 PRECEDING)),
         |qs AS (
         |  SELECT *, coalesce(is_mark AND mark_num IS NOT NULL AND
         |    (list_contains(prev_nums, mark_num - 1) OR
         |     list_contains(prev_nums, mark_num - 2)), FALSE) AS is_seq
         |  FROM q),
         |qs2 AS (
         |  SELECT *,
         |    sum(CASE WHEN is_seq THEN 1 ELSE 0 END) OVER ws AS seq_cnt,
         |    sum(CASE WHEN is_seq THEN 1 ELSE 0 END) OVER wb AS seq_bwd
         |  FROM qs
         |  WINDOW ws AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING),
         |         wb AS (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |                ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)),
         |r AS (
         |  SELECT *, (mark_frac >= 0.3 OR (strong_cnt >= 3 AND strong_bwd >= 1)
         |    OR (seq_cnt >= 3 AND seq_bwd >= 1)) AS is_numeric FROM qs2),
         |r1 AS (
         |  SELECT *, lag(is_numeric) OVER (PARTITION BY conv_id
         |    ORDER BY turn_idx, line_in_turn) AS prev_numeric
         |  FROM r),
         |r2 AS (
         |  SELECT *,
         |    CASE WHEN is_numeric THEN
         |      sum(CASE WHEN is_numeric AND NOT coalesce(prev_numeric, FALSE)
         |               THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |              ROWS UNBOUNDED PRECEDING) END AS region_id
         |  FROM r1),
         |regs AS (
         |  SELECT conv_id, region_id, min(line_no) AS r_start, max(line_no) AS r_end,
         |    (sum(CAST(length(regexp_replace(line, '[^\\p{L}]', '', 'g')) AS DOUBLE)) /
         |     greatest(sum(CAST(length(line) AS DOUBLE)), 1.0)) >= 0.26 AS r_is_body,
         |    ((sum(CAST(length(regexp_replace(line, '[^\\p{L}]', '', 'g')) AS DOUBLE)) /
         |      greatest(sum(CAST(length(line) AS DOUBLE)), 1.0)) >= 0.26 AND
         |     (sum(CASE WHEN is_mark AND (is_contentful OR is_seq)
         |               THEN 1.0 ELSE 0.0 END) /
         |      greatest(sum(CASE WHEN is_mark THEN 1.0 ELSE 0.0 END), 1.0)) < 0.15)
         |      AS r_index
         |  FROM r2 WHERE is_numeric GROUP BY conv_id, region_id),
         |j AS (
         |  SELECT r2.*, regs.r_start, regs.r_end, regs.r_is_body,
         |    coalesce(regs.r_index, FALSE) AS r_index
         |  FROM r2 LEFT JOIN regs
         |    ON r2.conv_id = regs.conv_id AND r2.region_id = regs.region_id),
         |a1 AS (
         |  SELECT *,
         |    min(CASE WHEN r_is_body AND NOT r_index THEN r_start END)
         |      OVER (PARTITION BY conv_id) AS first_body,
         |    max(CASE WHEN r_is_body AND NOT r_index THEN r_end END)
         |      OVER (PARTITION BY conv_id) AS last_body
         |  FROM j),
         |a2 AS (
         |  SELECT *,
         |    min(CASE WHEN is_trigger AND line_no > first_body THEN line_no END)
         |      OVER (PARTITION BY conv_id) AS annex_start
         |  FROM a1),
         |a3 AS (
         |  SELECT *,
         |    (min(CASE WHEN is_numeric AND NOT r_is_body AND NOT r_index
         |              THEN line_no END)
         |       OVER (PARTITION BY conv_id ORDER BY turn_idx, line_in_turn
         |             ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING)) IS NOT NULL AS near_price
         |  FROM a2),
         |z AS (
         |  SELECT conv_id,
         |    CASE
         |      WHEN first_body IS NULL AND r_index THEN '<front>'
         |      WHEN first_body IS NULL AND is_numeric THEN '<annex>'
         |      WHEN first_body IS NULL THEN '<body>'
         |      WHEN annex_start IS NOT NULL AND line_no >= annex_start THEN '<annex>'
         |      WHEN r_index AND (line_no < first_body OR line_no > last_body)
         |        THEN '<front>'
         |      WHEN is_numeric AND NOT r_is_body THEN '<annex>'
         |      WHEN line_no BETWEEN first_body AND last_body THEN '<body>'
         |      WHEN line_no < first_body AND near_price THEN '<annex>'
         |      WHEN is_form OR is_trigger THEN '<annex>'
         |      WHEN line_no < first_body THEN '<front>'
         |      WHEN is_repetitive THEN '<other>'
         |      WHEN is_pagenum OR is_garbage THEN '<other>'
         |      ELSE '<back>' END AS zone
         |  FROM a3)
         |SELECT conv_id, zone, count(*) AS n_lines FROM z GROUP BY 1, 2""".stripMargin,

    "k2_zone_spans" ->
      s"""WITH $zoneCte
         |SELECT conv_id, segment_id,
         |  min(zone) AS label,
         |  string_agg(replace(replace(replace(replace(replace(replace(text,
         |    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'),
         |    '''', '&apos;'), '@BULLET', '•') || ' <lb/>', e'\\n\\n' ORDER BY turn_idx) AS text
         |FROM segs GROUP BY conv_id, segment_id""".stripMargin,

    "k3_rawtext" ->
      s"""WITH $transcriptsCte
         |SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS rawtext
         |FROM transcripts GROUP BY conv_id""".stripMargin,

    "blank_training_tei" ->
      s"""WITH $transcriptsCte
         |SELECT conv_id,
         |  e'<?xml version="1.0" ?>\\n<tei xml:space="preserve">\\n\\t<teiHeader>' ||
         |  e'\\n\\t\\t<fileDesc xml:id="' || conv_id ||
         |  e'"/>\\n\\t</teiHeader>\\n\\t<text xml:lang="fr">\\n' ||
         |  replace(replace(replace(replace(replace(
         |    string_agg(text, chr(10) ORDER BY turn_idx),
         |    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'),
         |    '''', '&apos;') ||
         |  e'\\n\\t</text>\\n</tei>\\n' AS tei
         |FROM transcripts GROUP BY conv_id""".stripMargin,

    "blank_body_tei" ->
      s"""WITH $zoneCte
         |SELECT conv_id,
         |  e'<?xml version="1.0" ?>\\n<tei xml:space="preserve">\\n\\t<teiHeader>' ||
         |  e'\\n\\t\\t<fileDesc xml:id="' || conv_id ||
         |  e'"/>\\n\\t</teiHeader>\\n\\t<text xml:lang="fr">\\n' ||
         |  replace(replace(replace(replace(replace(
         |    string_agg(text, chr(10) ORDER BY turn_idx),
         |    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'),
         |    '''', '&apos;') ||
         |  e'\\n\\t</text>\\n</tei>\\n' AS tei
         |FROM segs WHERE zone = '<body>' GROUP BY conv_id""".stripMargin,

    "tei_documents" -> {
      def ratio(lang: String): String = {
        val list = TextStats.stopwords(lang).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(ws, w -> w IN ($list))) * 1.0 / greatest(len(ws), 1)"
      }
      s"""WITH $zoneCte,
         |spans AS (
         |  SELECT conv_id, segment_id, min(zone) AS label,
         |    string_agg(replace(replace(replace(replace(replace(replace(text,
         |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'),
         |      '''', '&apos;'), '@BULLET', '•') || ' <lb/>', e'\\n\\n'
         |      ORDER BY turn_idx) AS text
         |  FROM segs GROUP BY conv_id, segment_id),
         |sx AS (
         |  SELECT conv_id, segment_id, text,
         |    CASE WHEN label = '<other>'
         |      THEN '<note type="other">' || text || '</note>'
         |      ELSE label || text || '</' ||
         |        replace(replace(label, '<', ''), '>', '') || '>' END AS span_xml
         |  FROM spans),
         |dx AS (
         |  SELECT conv_id,
         |    string_agg(span_xml, e'\\n\\n' ORDER BY segment_id) AS spans_xml,
         |    substr(string_agg(substr(text, 1, 500), ' ' ORDER BY segment_id),
         |           1, 500) AS sample
         |  FROM sx GROUP BY conv_id),
         |lw AS (
         |  SELECT *, list_filter(string_split_regex(lower(trim(sample, ' ')), '\\s+'),
         |                        w -> w <> '') AS ws
         |  FROM dx),
         |lr AS (
         |  SELECT conv_id, spans_xml, sample,
         |    ${ratio("de")} AS r_de, ${ratio("en")} AS r_en,
         |    ${ratio("es")} AS r_es, ${ratio("fr")} AS r_fr
         |  FROM lw),
         |lg AS (
         |  SELECT conv_id, spans_xml,
         |    ${langCaseSql("sample", noScore = "fr")} AS lang
         |  FROM lr)
         |SELECT conv_id,
         |  e'<?xml version="1.0" ?>\\n<tei xml:space="preserve">\\n\\t<teiHeader>' ||
         |  e'\\n\\t\\t<fileDesc xml:id="' || conv_id ||
         |  e'"/>\\n\\t</teiHeader>\\n\\t<text xml:lang="' || lang || e'">\\n' ||
         |  spans_xml || e'\\n\\n\\t</text>\\n</tei>\\n' AS tei
         |FROM lg""".stripMargin
    },

    "k1_feature_vectors" -> {
      // the delimiter tokenizer WITH exact separators, as a recursive CTE:
      // each step peels ^(whitespace*)(delimiter | non-delimiter-run)(rest)
      val d = """(\[•*,:;?.!/)\-–−‐«»„”“‘’''`$\]""""
      val step = s"'^([ \\n\\r\\t\\f ]*)([$d]|[^ \\n\\r\\t\\f $d]+)(.*)$$'"
      val linScale12 = (v: String, mx: String) =>
        s"CASE WHEN $mx <= 0 THEN 0 WHEN $v >= $mx THEN 12 WHEN $v <= 0 THEN 0 " +
          s"ELSE CAST(floor($v * 12.0 / $mx) AS INT) END"
      s"""WITH RECURSIVE $transcriptsCte,
         |kl AS (
         |  SELECT conv_id, turn_idx, role, text AS line,
         |    regexp_extract(text, '[ \\t\\f ]*$$') AS line_trailing
         |  FROM transcripts
         |  WHERE text IS NOT NULL AND trim(text, ' ') <> ''
         |    AND text NOT LIKE '%@IMAGE%' AND text NOT LIKE '%@PAGE%'
         |    AND text NOT LIKE '%.pbm%' AND text NOT LIKE '%.svg%'
         |    AND text NOT LIKE '%.png%' AND text NOT LIKE '%.jpg%'),
         |kl2 AS (
         |  SELECT conv_id, turn_idx, role, line,
         |    coalesce(lag(line_trailing) OVER w, '') AS prev_trailing,
         |    CASE WHEN lag(turn_idx) OVER w IS NULL THEN 0 ELSE 1 END AS line_gap
         |  FROM kl WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |tk(conv_id, turn_idx, role, prev_trailing, line_gap,
         |   tok_idx, rest, tok, sep) AS (
         |  SELECT conv_id, turn_idx, role, prev_trailing, line_gap,
         |    -1, line, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM kl2
         |  UNION ALL
         |  SELECT conv_id, turn_idx, role, prev_trailing, line_gap,
         |    tok_idx + 1,
         |    regexp_extract(rest, $step, 3),
         |    regexp_extract(rest, $step, 2),
         |    regexp_extract(rest, $step, 1)
         |  FROM tk WHERE regexp_matches(rest, '[^ \\n\\r\\t\\f ]')),
         |toks AS (
         |  SELECT conv_id, turn_idx, role, CAST(tok_idx AS INT) AS tok_idx, tok,
         |    CASE WHEN tok_idx = 0
         |      THEN prev_trailing || repeat(chr(10), line_gap) || sep
         |      ELSE sep END AS sep_before
         |  FROM tk WHERE tok_idx >= 0),
         |st AS (
         |  SELECT *,
         |    tok_idx = 0 AS first_b,
         |    tok_idx = max(tok_idx) OVER (PARTITION BY conv_id, turn_idx) AS last_b,
         |    (turn_idx, tok_idx) = (max((turn_idx, tok_idx))
         |       OVER (PARTITION BY conv_id)) AS conv_last,
         |    lag(role) OVER wt AS prev_role,
         |    lag(CASE role WHEN 'system' THEN 3 WHEN 'tool' THEN 1 ELSE 2 END)
         |      OVER wt AS prev_fsz,
         |    CASE role WHEN 'system' THEN 3 WHEN 'tool' THEN 1 ELSE 2 END AS fsz,
         |    coalesce(sum(length(tok) + length(sep_before)) OVER (
         |      PARTITION BY conv_id ORDER BY turn_idx, tok_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn,
         |    sum(length(tok) + length(sep_before))
         |      OVER (PARTITION BY conv_id) AS doc_len,
         |    length(regexp_extract(
         |      first_value(sep_before) OVER (PARTITION BY conv_id, turn_idx
         |        ORDER BY tok_idx), '[ \\t]*$$')) AS lsp
         |  FROM toks
         |  WINDOW wt AS (PARTITION BY conv_id ORDER BY turn_idx, tok_idx)),
         |al AS (
         |  SELECT conv_id, turn_idx, lsp,
         |    lag(lsp) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_lsp
         |  FROM (SELECT DISTINCT conv_id, turn_idx, lsp FROM st)),
         |al2 AS (
         |  SELECT conv_id, turn_idx,
         |    coalesce(last_value(
         |      CASE WHEN lsp - prev_lsp > 1 THEN 'LINEINDENT'
         |           WHEN lsp - prev_lsp < -1 THEN 'ALIGNEDLEFT' END
         |      IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |        ROWS UNBOUNDED PRECEDING), 'ALIGNEDLEFT') AS align
         |  FROM al)
         |SELECT st.conv_id, st.turn_idx, st.tok_idx, concat_ws(' ',
         |  tok, lower(tok),
         |  CASE WHEN length(tok) <= 1 THEN tok ELSE substr(tok, 1, 1) END,
         |  CASE WHEN length(tok) <= 2 THEN tok ELSE substr(tok, 1, 2) END,
         |  CASE WHEN length(tok) <= 3 THEN tok ELSE substr(tok, 1, 3) END,
         |  CASE WHEN length(tok) <= 4 THEN tok ELSE substr(tok, 1, 4) END,
         |  CASE WHEN length(tok) <= 1 THEN tok ELSE right(tok, 1) END,
         |  CASE WHEN length(tok) <= 2 THEN tok ELSE right(tok, 2) END,
         |  CASE WHEN length(tok) <= 3 THEN tok ELSE right(tok, 3) END,
         |  CASE WHEN length(tok) <= 4 THEN tok ELSE right(tok, 4) END,
         |  CASE WHEN first_b THEN 'BLOCKSTART'
         |       WHEN last_b AND NOT conv_last THEN 'BLOCKEND'
         |       ELSE 'BLOCKIN' END,
         |  CASE WHEN first_b THEN 'LINESTART'
         |       WHEN last_b AND NOT conv_last THEN 'LINEEND'
         |       ELSE 'LINEIN' END,
         |  al2.align,
         |  CASE WHEN prev_role IS NULL OR prev_role <> role
         |       THEN 'NEWFONT' ELSE 'SAMEFONT' END,
         |  CASE WHEN prev_fsz IS NULL THEN 'HIGHERFONT'
         |       WHEN fsz = prev_fsz THEN 'SAMEFONTSIZE'
         |       WHEN fsz > prev_fsz THEN 'HIGHERFONT'
         |       ELSE 'LOWERFONT' END,
         |  '0', '0',
         |  CASE WHEN regexp_matches(tok, '^\\p{Nd}+$$') THEN 'NOCAPS'
         |       WHEN NOT regexp_matches(tok, '\\p{Ll}') THEN 'ALLCAP'
         |       WHEN regexp_matches(substr(tok, 1, 1), '^\\p{Lu}') THEN 'INITCAP'
         |       ELSE 'NOCAPS' END,
         |  CASE WHEN regexp_matches(tok, '^\\p{Nd}+$$') THEN 'ALLDIGIT'
         |       WHEN regexp_matches(tok, '\\p{Nd}') THEN 'CONTAINSDIGITS'
         |       ELSE 'NODIGIT' END,
         |  CASE WHEN length(tok) = 1 THEN '1' ELSE '0' END,
         |  CASE WHEN tok IN ('(', '[') THEN 'OPENBRACKET'
         |       WHEN tok IN (')', ']') THEN 'ENDBRACKET'
         |       WHEN tok = '.' THEN 'DOT' WHEN tok = ',' THEN 'COMMA'
         |       WHEN tok = '-' THEN 'HYPHEN'
         |       WHEN tok IN ('"', '''', '`') THEN 'QUOTE'
         |       WHEN regexp_matches(tok, '^[,:;?.]+$$') THEN 'PUNCT'
         |       ELSE 'NOPUNCT' END,
         |  ${linScale12("nn", "doc_len")},
         |  '0',
         |  '0') AS vector
         |FROM st JOIN al2 ON st.conv_id = al2.conv_id AND st.turn_idx = al2.turn_idx""".stripMargin
    },

    "dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text, ' ')), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
        |  count(*) OVER (PARTITION BY fp) AS dup_count,
        |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
        |FROM f""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH $wordsCte, $shinglesCte,
         |d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed)
         |SELECT doc_id, seed,
         |  min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
         |FROM d CROSS JOIN seeds GROUP BY doc_id, seed""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $wordsCte, $shinglesCte,
         |d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |sig AS (
         |  SELECT doc_id, seed,
         |    min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
         |  FROM d CROSS JOIN seeds GROUP BY doc_id, seed),
         |b AS (
         |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         |    md5(string_agg(CAST(seed AS VARCHAR) || '@' || minhash, '|'
         |      ORDER BY CAST(seed AS VARCHAR) || '@' || minhash)) AS bucket
         |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
         |bc AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
         |       FROM b)
         |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |FROM bc l JOIN bc r ON l.band = r.band AND l.bucket = r.bucket
         |WHERE l.doc_id < r.doc_id AND l.bsz <= 1000""".stripMargin,

    "dedup_star_edges" ->
      s"""WITH $wordsCte, $shinglesCte,
         |d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |sig AS (
         |  SELECT doc_id, seed,
         |    min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
         |  FROM d CROSS JOIN seeds GROUP BY doc_id, seed),
         |b AS (
         |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         |    md5(string_agg(CAST(seed AS VARCHAR) || '@' || minhash, '|'
         |      ORDER BY CAST(seed AS VARCHAR) || '@' || minhash)) AS bucket
         |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
         |m AS (SELECT band, bucket, min(doc_id) AS mn FROM b GROUP BY 1, 2)
         |SELECT DISTINCT m.mn AS a, b.doc_id AS b
         |FROM b JOIN m ON b.band = m.band AND b.bucket = m.bucket
         |WHERE b.doc_id <> m.mn""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $wordsCte, $shinglesCte,
         |d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |sig AS (
         |  SELECT doc_id, seed,
         |    min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
         |  FROM d CROSS JOIN seeds GROUP BY doc_id, seed),
         |bk AS (
         |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         |    md5(string_agg(CAST(seed AS VARCHAR) || '@' || minhash, '|'
         |      ORDER BY CAST(seed AS VARCHAR) || '@' || minhash)) AS bucket
         |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b AS src, a AS dst FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id""".stripMargin,

    "prep_corpus" -> {
      s"""WITH RECURSIVE $wordsCte, $shinglesCte, $dedupChainCtes,
         |q AS (
         |  SELECT doc_id, text, ws,
         |    ${stopRatioSql("de")} AS r_de, ${stopRatioSql("en")} AS r_en,
         |    ${stopRatioSql("es")} AS r_es, ${stopRatioSql("fr")} AS r_fr,
         |    round(CASE WHEN coalesce(len(ws), 0) = 0 THEN 0 ELSE 1.0
         |      - least(0.4, ${r4(
                  "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))",
                  "greatest(length(text), 1)")} * 2)
         |      - least(0.3, ${r4("length(regexp_replace(text, '[^A-Z]', '', 'g'))",
                  "greatest(length(text), 1)")})
         |      - (CASE WHEN len(ws) < 5 THEN 0.3 ELSE 0 END) END, 4) AS quality_score
         |  FROM words)
         |SELECT doc_id, ${langCaseSql()} AS lang,
         |  quality_score
         |FROM q
         |WHERE doc_id NOT IN (SELECT id FROM dupes) AND quality_score >= 0.5""".stripMargin
    },

    "dedup_simhash" ->
      s"""WITH $wordsCte,
         |tk AS (SELECT doc_id, unnest(ws) AS tok FROM words),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INT AS h FROM tk),
         |bits AS (SELECT doc_id,
         |  ${(0 until 16).map(i =>
             s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
             .mkString(", ")}
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST(${(0 until 16).map(i =>
             s"(CASE WHEN b$i >= 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")}
         |  AS INT) AS simhash
         |FROM bits""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $wordsCte, $shinglesCte,
         |d AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |sig AS (
         |  SELECT doc_id, seed,
         |    min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
         |  FROM d CROSS JOIN seeds GROUP BY doc_id, seed),
         |bkt AS (
         |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         |    md5(string_agg(CAST(seed AS VARCHAR) || '@' || minhash, '|'
         |      ORDER BY CAST(seed AS VARCHAR) || '@' || minhash)) AS bucket
         |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
         |bktc AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
         |         FROM bkt),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bktc l JOIN bktc r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id AND l.bsz <= 1000),
         |cnts AS (SELECT doc_id, count(*) AS n_sh FROM d GROUP BY doc_id),
         |com AS (
         |  SELECT p.a, p.b, count(*) AS n_common
         |  FROM pairs p JOIN d da ON da.doc_id = p.a
         |  JOIN d db ON db.doc_id = p.b AND db.shingle = da.shingle
         |  GROUP BY p.a, p.b)
         |SELECT com.a, com.b, n_common,
         |  ${r4("n_common", "ca.n_sh + cb.n_sh - n_common")} AS jaccard
         |FROM com JOIN cnts ca ON ca.doc_id = com.a
         |JOIN cnts cb ON cb.doc_id = com.b
         |WHERE ${r4("n_common", "ca.n_sh + cb.n_sh - n_common")} >= 0.5""".stripMargin,

    "zone_eval_floors" ->
      """SELECT true AS zone_acc_ok, true AS front_f1_ok,
        |       true AS body_f1_ok""".stripMargin,

    "pq_codebook" ->
      s"""WITH $pqCbCtes
         |SELECT subspace, code,
         |  CAST(generate_subscripts(cv, 1) - 1 AS INT) AS pos,
         |  unnest(cv) AS component
         |FROM cbk""".stripMargin,

    "pq_codes" ->
      s"""WITH $pqCbCtes, $pqCodesCtes
         |SELECT vec_id, subspace, CAST(code AS INT) AS code FROM pam""".stripMargin,

    "pq_topk" ->
      s"""WITH $pqCbCtes, $pqCodesCtes, $pqAdcCtes,
         |sc AS (SELECT l.query_id, p.neighbor_id,
         |         round(list_sum(list(l.d ORDER BY l.subspace)), 4) AS dist2
         |       FROM pc p JOIN lut l
         |         ON l.subspace = p.subspace AND l.code = p.code
         |       WHERE p.neighbor_id <> l.query_id
         |       GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, dist2, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY dist2, neighbor_id) AS rank FROM sc)
         |WHERE rank <= 5""".stripMargin,

    "ivfpq_topk" ->
      s"""WITH $pqCbCtes, $pqCodesCtes, $pqAdcCtes,
         |icents AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
         |           FROM embeddings
         |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
         |iassign AS (SELECT vec_id AS neighbor_id, cell FROM (
         |    SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
         |        c.cv), 4) DESC, c.cell DESC) AS rn
         |    FROM embeddings e CROSS JOIN icents c) WHERE rn = 1),
         |iprobe AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
         |        c.cv), 4) DESC, c.cell DESC) AS rn
         |    FROM embeddings e CROSS JOIN icents c WHERE e.vec_id < 10)
         |  WHERE rn <= 2),
         |pairs AS (SELECT p.query_id, a.neighbor_id
         |          FROM iprobe p JOIN iassign a USING (cell)
         |          WHERE a.neighbor_id <> p.query_id),
         |isc AS (SELECT pr.query_id, pr.neighbor_id,
         |          round(list_sum(list(l.d ORDER BY l.subspace)), 4) AS dist2
         |        FROM pairs pr
         |        JOIN pc p ON p.neighbor_id = pr.neighbor_id
         |        JOIN lut l ON l.query_id = pr.query_id
         |          AND l.subspace = p.subspace AND l.code = p.code
         |        GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, dist2, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY dist2, neighbor_id) AS rank FROM isc)
         |WHERE rank <= 5""".stripMargin,

    "sim_topk_brute" ->
      """WITH s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                                 c.embedding::DOUBLE[]), 4) AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    "sim_topk_lsh" -> {
      val b = bucketSql("e.embedding", 8)
      s"""WITH bk AS (SELECT e.vec_id, e.embedding, $b AS bucket FROM embeddings e),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[],
         |                                 c.embedding::DOUBLE[]), 4) AS cosine
         |  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin
    },

    "sim_topk_lsh_mp" -> {
      val b = bucketSql("e.embedding", 8)
      val probes = ("bucket" +: (0 until 8).map(p => s"xor(bucket, ${1 << p})")).mkString(", ")
      s"""WITH bk AS (SELECT e.vec_id, e.embedding, $b AS bucket FROM embeddings e),
         |qp AS (SELECT vec_id, embedding, unnest([$probes]) AS bucket
         |       FROM bk WHERE vec_id < 10),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[],
         |                                 c.embedding::DOUBLE[]), 4) AS cosine
         |  FROM qp q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin
    },

    "sim_topk_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id AS neighbor_id, embedding, cell FROM (
        |    SELECT c.vec_id, c.embedding, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        round(list_cosine_similarity(c.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings c CROSS JOIN cents ct)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, embedding AS qemb, cell FROM (
        |    SELECT q.vec_id, q.embedding, ct.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings q CROSS JOIN cents ct WHERE q.vec_id < 10)
        |  WHERE rn <= 2),
        |s AS (
        |  SELECT p.query_id, a.neighbor_id,
        |    round(list_cosine_similarity(p.qemb::DOUBLE[],
        |                                 a.embedding::DOUBLE[]), 4) AS cosine
        |  FROM probes p JOIN assign a
        |    ON p.cell = a.cell AND a.neighbor_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    "sim_topk_ivf_trained" ->
      s"""WITH $kmeansCtes,
         |centsT AS (SELECT cell, list(m ORDER BY dim) AS cv FROM m2
         |           GROUP BY cell),
         |assignT AS (
         |  SELECT vec_id AS neighbor_id, embedding, cell FROM (
         |    SELECT c.vec_id, c.embedding, ct.cell,
         |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |        round(list_cosine_similarity(c.embedding::DOUBLE[], ct.cv), 4) DESC,
         |        ct.cell DESC) AS rn
         |    FROM embeddings c CROSS JOIN centsT ct)
         |  WHERE rn = 1),
         |probesT AS (
         |  SELECT vec_id AS query_id, embedding AS qemb, cell FROM (
         |    SELECT q.vec_id, q.embedding, ct.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(list_cosine_similarity(q.embedding::DOUBLE[], ct.cv), 4) DESC,
         |        ct.cell DESC) AS rn
         |    FROM embeddings q CROSS JOIN centsT ct WHERE q.vec_id < 10)
         |  WHERE rn <= 2),
         |sT AS (
         |  SELECT p.query_id, a.neighbor_id,
         |    round(list_cosine_similarity(p.qemb::DOUBLE[],
         |                                 a.embedding::DOUBLE[]), 4) AS cosine
         |  FROM probesT p JOIN assignT a
         |    ON p.cell = a.cell AND a.neighbor_id <> p.query_id),
         |rT AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sT)
         |SELECT query_id, neighbor_id, cosine, rank FROM rT WHERE rank <= 5""".stripMargin,

    "sem_dedup_edges" ->
      s"""WITH $dupEmbCte, $semAssignCte
         |SELECT a, b, cosine FROM sempairs""".stripMargin,

    "sem_dedup_keep" ->
      s"""WITH RECURSIVE $dupEmbCte, $semAssignCte,
         |edges AS (
         |  SELECT a AS src, b AS dst FROM sempairs
         |  UNION SELECT b AS src, a AS dst FROM sempairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.id),
         |dupes AS (
         |  SELECT id FROM (SELECT id, min(lbl) AS cl FROM reach GROUP BY id)
         |  WHERE id <> cl)
         |SELECT vec_id FROM emb
         |WHERE vec_id NOT IN (SELECT id FROM dupes)""".stripMargin,

    "sim_near_dups" -> {
      val b = bucketSql("e.embedding", 8)
      s"""WITH bk AS (SELECT e.vec_id, e.embedding, $b AS bucket FROM embeddings e),
         |bs AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz FROM bk)
         |SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
         |  round(list_cosine_similarity(l.embedding::DOUBLE[],
         |                               r.embedding::DOUBLE[]), 4) AS cosine
         |FROM bs l JOIN bs r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |WHERE l.bsz <= 1000
         |  AND round(list_cosine_similarity(l.embedding::DOUBLE[],
         |                                   r.embedding::DOUBLE[]), 4) >= 0.9""".stripMargin
    },

    "sim_near_dup_stars" -> {
      val b = bucketSql("e.embedding", 8)
      s"""WITH bk AS (SELECT e.vec_id, e.embedding, $b AS bucket FROM embeddings e),
         |hb AS (SELECT vec_id, embedding, bucket,
         |    min(vec_id) OVER (PARTITION BY bucket) AS hub,
         |    first_value(embedding) OVER (PARTITION BY bucket ORDER BY vec_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS va
         |  FROM bk)
         |SELECT DISTINCT a, b, cosine FROM (
         |  SELECT hub AS a, vec_id AS b,
         |    round(list_cosine_similarity(va::DOUBLE[],
         |                                 embedding::DOUBLE[]), 4) AS cosine
         |  FROM hb WHERE vec_id <> hub)
         |WHERE cosine >= 0.9""".stripMargin
    },

    "sim_brute_vs_lsh_recall" -> {
      val bk = (0 until 16).map(t =>
        s"SELECT e.vec_id, e.embedding, $t AS tbl, " +
          s"${bucketSql("e.embedding", 4, t)} AS bucket FROM embeddings e")
        .mkString("\nUNION ALL ")
      s"""WITH bk AS (
         |$bk),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |    AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |sc AS (
         |  SELECT qid, nid,
         |    round(list_cosine_similarity(qe.embedding::DOUBLE[],
         |                                 ce.embedding::DOUBLE[]), 4) AS cos
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.qid
         |            JOIN embeddings ce ON ce.vec_id = cand.nid),
         |ar AS (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM sc),
         |approx AS (SELECT qid, nid FROM ar WHERE rnk <= 5),
         |bs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[],
         |                                 c.embedding::DOUBLE[]), 4) AS cosine
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |br AS (SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM bs),
         |brute AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5)
         |SELECT b.query_id, round(count(a.nid) / 5.0, 2) AS recall_at_5
         |FROM brute b LEFT JOIN approx a
         |  ON a.qid = b.query_id AND a.nid = b.neighbor_id
         |GROUP BY b.query_id""".stripMargin
    },

    "sim_brute_vs_ivf_recall" ->
      """WITH cents AS (
        |  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id AS nid, embedding, cell FROM (
        |    SELECT c.vec_id, c.embedding, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        round(list_cosine_similarity(c.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings c CROSS JOIN cents ct)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, embedding AS qemb, cell FROM (
        |    SELECT q.vec_id, q.embedding, ct.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_cosine_similarity(q.embedding::DOUBLE[], ct.cv), 4) DESC,
        |        ct.cell DESC) AS rn
        |    FROM embeddings q CROSS JOIN cents ct WHERE q.vec_id < 10)
        |  WHERE rn <= 6),
        |sc AS (
        |  SELECT p.qid, a.nid,
        |    round(list_cosine_similarity(p.qemb::DOUBLE[],
        |                                 a.embedding::DOUBLE[]), 4) AS cos
        |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.nid <> p.qid),
        |ar AS (SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS rnk FROM sc),
        |approx AS (SELECT qid, nid FROM ar WHERE rnk <= 5),
        |bs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                                 c.embedding::DOUBLE[]), 4) AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |br AS (SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM bs),
        |brute AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5)
        |SELECT b.query_id, round(count(a.nid) / 5.0, 2) AS recall_at_5
        |FROM brute b LEFT JOIN approx a
        |  ON a.qid = b.query_id AND a.nid = b.neighbor_id
        |GROUP BY b.query_id""".stripMargin,

    "text_lang_id" ->
      s"""WITH $wordsCte,
         |sc AS (SELECT doc_id, text, ws,
         |  ${stopRatioSql("de")} AS r_de, ${stopRatioSql("en")} AS r_en,
         |  ${stopRatioSql("es")} AS r_es, ${stopRatioSql("fr")} AS r_fr
         |  FROM words)
         |SELECT doc_id, ${langCaseSql()} AS lang_pred
         |FROM sc""".stripMargin,

    "lang_trigram_model" ->
      s"""WITH $langTriCtes
         |SELECT lang, tri, w_fp FROM lw
         |UNION ALL SELECT lang, '__UNSEEN__' AS tri, unseen_fp AS w_fp FROM lu
         |UNION ALL SELECT lang, '__PRIOR__' AS tri, prior_fp AS w_fp FROM lp""".stripMargin,

    "lang_trigram_id" ->
      s"""WITH $langTriCtes
         |SELECT doc_id, lang, CAST(score_fp AS BIGINT) AS score_fp FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_fp DESC, lang DESC) AS rn FROM lsc)
         |WHERE rn = 1""".stripMargin,

    "text_quality" -> {
      val en = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH $wordsCte,
         |q AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    CASE WHEN len(ws) > 0
         |      THEN ${r4("length(text) + 1 - len(ws)", "len(ws)")}
         |      ELSE 0 END AS mean_word_len,
         |    CASE WHEN length(text) > 0
         |      THEN ${r4("length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))",
                          "length(text)")}
         |      ELSE 0 END AS punct_ratio,
         |    CASE WHEN length(text) > 0
         |      THEN ${r4("length(regexp_replace(text, '[^A-Z]', '', 'g'))",
                          "length(text)")}
         |      ELSE 0 END AS upper_ratio,
         |    CASE WHEN len(ws) > 0
         |      THEN ${r4(s"len(list_filter(ws, w -> w IN ($en)))", "len(ws)")}
         |      ELSE 0 END AS stopword_ratio
         |  FROM words)
         |SELECT doc_id, n_words, mean_word_len, punct_ratio, upper_ratio,
         |  stopword_ratio,
         |  -- null-safe zero-word guard, same as TextStats.quality: a
         |  -- NULL-text doc scores 0.0, not a fall-through 1.0
         |  round(CASE WHEN coalesce(n_words, 0) = 0 THEN 0 ELSE 1.0
         |    - least(0.4, punct_ratio * 2)
         |    - least(0.3, upper_ratio)
         |    - (CASE WHEN n_words < 5 THEN 0.3 ELSE 0 END) END, 4)
         |    AS quality_score
         |FROM q""".stripMargin
    },

    "text_token_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
        |FROM documents""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text, ' ')), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "bpe_word_counts" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(coalesce(text, ''), '\S+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word
        |      HAVING count(*) >= 2)
        |SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 5000""".stripMargin,

    "bpe_char_tokens" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(coalesce(text, ''), '\s', '', 'g'))
        |       + len(regexp_extract_all(coalesce(text, ''), '\s+')) AS INT)
        |    AS n_tokens
        |FROM documents""".stripMargin,

    "bpe_roundtrip_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "url_domains" ->
      s"""WITH $urlCorpusCte, $urlDomainsCte
         |SELECT doc_id, host, domain FROM doms""".stripMargin,

    "url_domain_stats" ->
      s"""WITH $urlCorpusCte, $urlDomainsCte
         |SELECT domain, count(*) AS n_pages,
         |       count(DISTINCT host) AS n_hosts
         |FROM doms GROUP BY domain""".stripMargin,

    "url_quota_sample" ->
      s"""WITH $urlCorpusCte, $urlDomainsCte,
         |rates AS (
         |  SELECT domain, least(1.0, 30.0 / count(*)) AS keep_rate
         |  FROM doms GROUP BY domain)
         |SELECT doc_id, domain FROM doms JOIN rates USING (domain)
         |WHERE ('0x' || substr(md5('dq:' || CAST(doc_id AS VARCHAR)), 1, 6))::INT
         |      / 16777216.0 < keep_rate""".stripMargin,

    "url_top_n" ->
      s"""WITH $urlCorpusCte, $urlDomainsCte,
         |r AS (
         |  SELECT domain, doc_id, row_number() OVER (
         |    PARTITION BY domain
         |    ORDER BY md5('dq:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
         |  FROM doms)
         |SELECT domain, doc_id, rnk FROM r WHERE rnk <= 20""".stripMargin,

    "url_blocklist" ->
      s"""WITH $urlCorpusCte,
         |hp AS (
         |  SELECT doc_id,
         |    lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
         |    lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)) AS path
         |  FROM urls),
         |db(pattern, category) AS (
         |  SELECT * FROM (VALUES ('delta.net', 'ads'),
         |    ('m.alpha.com', 'tracking')) v),
         |kb(keyword, category) AS (
         |  SELECT * FROM (VALUES ('page/7', 'spam')) v),
         |sfx AS (
         |  SELECT doc_id, unnest(list_transform(range(len(p)),
         |    i -> array_to_string(p[i+1:len(p)], '.'))) AS pattern
         |  FROM (SELECT doc_id, string_split(host, '.') AS p FROM hp)),
         |hits AS (
         |  SELECT doc_id, category || '|' || pattern AS hit
         |  FROM sfx JOIN db USING (pattern)
         |  UNION ALL
         |  SELECT doc_id, category || '|' || keyword AS hit
         |  FROM hp JOIN kb ON contains(path, keyword)),
         |v AS (SELECT doc_id, min(hit) AS block_hit FROM hits GROUP BY 1)
         |SELECT hp.doc_id, hp.host, v.block_hit IS NOT NULL AS blocked,
         |       v.block_hit
         |FROM hp LEFT JOIN v USING (doc_id)""".stripMargin,

    "search_bm25" ->
      s"""WITH $wordsCte,
         |post AS (
         |  SELECT doc_id, unnest(ws) AS term FROM words),
         |p AS (SELECT doc_id, term, count(*) AS tf FROM post GROUP BY 1, 2),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM words),
         |stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM words),
         |q(query_id, term) AS (VALUES
         |  (0, 'hash'), (0, 'join'), (0, 'spark'),
         |  (1, 'window'), (1, 'sort'), (1, 'merge'),
         |  (2, 'customer'), (2, 'query'), (2, 'table')),
         |matched AS (
         |  SELECT p.* FROM p WHERE term IN (SELECT DISTINCT term FROM q)),
         |dfreq AS (SELECT term, count(*) AS df FROM matched GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, m.doc_id,
         |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
         |      AS score
         |  FROM matched m JOIN dfreq USING (term) JOIN dl USING (doc_id)
         |       CROSS JOIN stats JOIN q ON q.term = m.term
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 10""".stripMargin,

    // identical semantics by construction: the indexed path persists the
    // same postings/doclen/stats frames the inline path derives
    "search_bm25_indexed" ->
      s"""WITH $wordsCte,
         |post AS (
         |  SELECT doc_id, unnest(ws) AS term FROM words),
         |p AS (SELECT doc_id, term, count(*) AS tf FROM post GROUP BY 1, 2),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM words),
         |stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM words),
         |q(query_id, term) AS (VALUES
         |  (0, 'hash'), (0, 'join'), (0, 'spark'),
         |  (1, 'window'), (1, 'sort'), (1, 'merge'),
         |  (2, 'customer'), (2, 'query'), (2, 'table')),
         |matched AS (
         |  SELECT p.* FROM p WHERE term IN (SELECT DISTINCT term FROM q)),
         |dfreq AS (SELECT term, count(*) AS df FROM matched GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, m.doc_id,
         |    round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
         |      AS score
         |  FROM matched m JOIN dfreq USING (term) JOIN dl USING (doc_id)
         |       CROSS JOIN stats JOIN q ON q.term = m.term
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, doc_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 10""".stripMargin,

    "gopher_stats" ->
      s"""WITH $wordsCte,
         |lt AS (
         |  SELECT doc_id, ws, text,
         |    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
         |                               l -> trim(l, ' ')), l -> l <> '') AS ls
         |  FROM words)
         |SELECT doc_id,
         |  -- Gopher.stats coalesces text to '' before tokenizing: a
         |  -- NULL-text doc has 0 words, not NULL words
         |  CAST(coalesce(len(ws), 0) AS INT) AS n_words,
         |  CASE WHEN len(ws) > 0 THEN ${r4(
              "length(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))",
              "len(ws)")}
         |    ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(ws) > 0 THEN ${r4(
              "len(regexp_extract_all(coalesce(text, ''), '#'))" +
              " + len(regexp_extract_all(coalesce(text, ''), '\\.{3}|…'))",
              "len(ws)")}
         |    ELSE 0.0 END AS symbol_word_ratio,
         |  CASE WHEN len(ls) > 0 THEN ${r4(
              "len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))",
              "len(ls)")}
         |    ELSE 0.0 END AS bullet_line_frac,
         |  CASE WHEN len(ls) > 0 THEN ${r4(
              "len(list_filter(ls, l -> regexp_matches(l, '(\\.{3}|…)$')))",
              "len(ls)")}
         |    ELSE 0.0 END AS ellipsis_line_frac,
         |  CASE WHEN len(ws) > 0 THEN ${r4(
              "len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))",
              "len(ws)")}
         |    ELSE 0.0 END AS alpha_word_frac,
         |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                       s -> list_contains(ws, s))) AS INT) AS n_stop_hits
         |FROM lt""".stripMargin,

    "gopher_keep" ->
      s"""WITH $wordsCte,
         |st AS (
         |  SELECT doc_id,
         |    len(ws) AS n_words,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "length(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))",
                "len(ws)")}
         |      ELSE 0.0 END AS mwl,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(regexp_extract_all(coalesce(text, ''), '#'))" +
                " + len(regexp_extract_all(coalesce(text, ''), '\\.{3}|…'))",
                "len(ws)")}
         |      ELSE 0.0 END AS swr,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))",
                "len(ws)")}
         |      ELSE 0.0 END AS awf,
         |    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
         |                               l -> trim(l, ' ')), l -> l <> '') AS ls
         |  FROM words),
         |st2 AS (
         |  SELECT doc_id, n_words, mwl, swr, awf,
         |    CASE WHEN len(ls) > 0 THEN ${r4(
                "len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))",
                "len(ls)")}
         |      ELSE 0.0 END AS blf,
         |    CASE WHEN len(ls) > 0 THEN ${r4(
                "len(list_filter(ls, l -> regexp_matches(l, '(\\.{3}|…)$')))",
                "len(ls)")}
         |      ELSE 0.0 END AS elf
         |  FROM st)
         |SELECT doc_id,
         |  (n_words BETWEEN 30 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
         |   AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3
         |   AND awf >= 0.5) AS gopher_keep
         |FROM st2""".stripMargin,

    "gopher_repetition" -> gopherRepStatsSql(),

    "gopher_rep_keep" ->
      s"""SELECT doc_id,
         |  (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30 AND
         |   dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20 AND
         |   top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18 AND
         |   top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15 AND
         |   dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13 AND
         |   dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11 AND
         |   dup_10gram_char_frac <= 0.10) AS gopher_rep_keep
         |FROM (${gopherRepStatsSql()})""".stripMargin,

    "c4_line_filter" ->
      s"""WITH ${c4LineCtes("documents")}
         |SELECT doc_id,
         |  coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
         |  len(kept) AS n_lines_kept,
         |  len(ls) - len(kept) AS n_lines_dropped
         |FROM lk""".stripMargin,

    "c4_keep" ->
      s"""WITH $c4CorpusCte, ${c4LineCtes("cdocs")},
         |pc AS (SELECT doc_id,
         |  coalesce(array_to_string(kept, chr(10)), '') AS tc FROM lk),
         |st AS (
         |  SELECT doc_id,
         |    len(list_filter(list_transform(
         |      regexp_extract_all(tc, '[^.!?]+[.!?]+'), x -> trim(x, ' ')),
         |      x -> x <> '')) AS n_sentences,
         |    contains(lower(tc), 'lorem ipsum') AS has_lorem_ipsum,
         |    contains(tc, '{') AS has_brace,
         |    len(list_filter(
         |      [${C4.defaultBlocklist.map(w => s"'$w'").mkString(", ")}],
         |      b -> list_contains(list_filter(
         |        string_split_regex(lower(trim(tc, ' ')), '\\s+'),
         |        w -> w <> ''), b))) AS n_bad_words
         |  FROM pc)
         |SELECT doc_id, n_sentences, has_lorem_ipsum, has_brace, n_bad_words,
         |  (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_brace
         |   AND n_bad_words = 0) AS c4_keep
         |FROM st""".stripMargin,

    "c4_span_dedup" ->
      unitStripSql(c4SpanCorpusCte + ",", "sdocs", sentUnitsSql, 3, "' '"),

    "para_dedup" ->
      unitStripSql(repCorpusCte + ",", "rdocs", paraUnitsSql, 1,
        "chr(10) || chr(10)"),

    "web_curation" ->
      s"""WITH $webCorpusCte, ${c4LineCtes("wdocs")},
         |wc1 AS (SELECT doc_id,
         |  coalesce(array_to_string(kept, chr(10)), '') AS text FROM lk),
         |wpst AS (
         |  SELECT doc_id, text,
         |    len(list_filter(list_transform(
         |      regexp_extract_all(text, '[^.!?]+[.!?]+'), x -> trim(x, ' ')),
         |      x -> x <> '')) AS nsen,
         |    contains(lower(text), 'lorem ipsum') AS hl,
         |    contains(text, '{') AS hb,
         |    len(list_filter(
         |      [${C4.defaultBlocklist.map(w => s"'$w'").mkString(", ")}],
         |      b -> list_contains(list_filter(
         |        string_split_regex(lower(trim(text, ' ')), '\\s+'),
         |        w -> w <> ''), b))) AS nbw
         |  FROM wc1),
         |wc2 AS (SELECT doc_id, text FROM wpst
         |        WHERE nsen >= 3 AND NOT hl AND NOT hb AND nbw = 0),
         |wgw AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(trim(text, ' ')), '\\s+'),
         |                w -> w <> '') AS ws
         |  FROM wc2),
         |wgs AS (
         |  SELECT doc_id, text, len(ws) AS n_words,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "length(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))",
                "len(ws)")} ELSE 0.0 END AS mwl,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(regexp_extract_all(coalesce(text, ''), '#'))" +
                " + len(regexp_extract_all(coalesce(text, ''), '\\.{3}|…'))",
                "len(ws)")} ELSE 0.0 END AS swr,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))",
                "len(ws)")} ELSE 0.0 END AS awf,
         |    list_filter(list_transform(string_split(coalesce(text, ''),
         |      chr(10)), l -> trim(l, ' ')), l -> l <> '') AS gls
         |  FROM wgw),
         |wgs2 AS (
         |  SELECT *,
         |    CASE WHEN len(gls) > 0 THEN ${r4(
                "len(list_filter(gls, l -> regexp_matches(l, '^[-*•]')))",
                "len(gls)")} ELSE 0.0 END AS blf,
         |    CASE WHEN len(gls) > 0 THEN ${r4(
                "len(list_filter(gls, l -> regexp_matches(l, '(\\.{3}|…)$')))",
                "len(gls)")} ELSE 0.0 END AS elf
         |  FROM wgs),
         |wc3 AS (
         |  SELECT doc_id, text FROM wgs2
         |  WHERE n_words BETWEEN 30 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
         |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.5),
         |wrep AS (
         |  SELECT doc_id FROM (${gopherRepStatsSql("wc3", "")})
         |  WHERE dup_line_frac <= 0.30 AND dup_para_frac <= 0.30 AND
         |    dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20 AND
         |    top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18 AND
         |    top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15 AND
         |    dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13 AND
         |    dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11 AND
         |    dup_10gram_char_frac <= 0.10),
         |wc4 AS (SELECT c.doc_id, c.text FROM wc3 c JOIN wrep USING (doc_id)),
         |wfp AS (
         |  SELECT doc_id, text,
         |    md5(regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g')) AS f
         |  FROM wc4),
         |wdd AS (
         |  SELECT doc_id, text FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY f) AS keeper FROM wfp)
         |  WHERE doc_id = keeper),
         |${dsirCtes("wdd")}
         |SELECT doc_id, n_grams, dsir_score_fp FROM dsc""".stripMargin,

    "dsir_weights" ->
      s"""WITH ${dsirCtes()}
         |SELECT bucket, w_fp FROM dmodel""".stripMargin,

    "dsir_scores" ->
      s"""WITH ${dsirCtes()}
         |SELECT doc_id, n_grams, dsir_score_fp FROM dsc""".stripMargin,

    "dsir_resample" ->
      s"""WITH ${dsirCtes()}
         |SELECT doc_id, dsir_score_fp,
         |  dsir_score_fp + CAST(round(-1e6 * ln(-ln(
         |    (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)),
         |      1, 6))::INT + 0.5) / 16777216.0))) AS BIGINT) AS key_fp
         |FROM dsc
         |ORDER BY key_fp DESC, doc_id
         |LIMIT 50""".stripMargin,

    "chunk_text" ->
      """WITH c AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    CASE WHEN length(coalesce(text, '')) <= 64 THEN 1
        |         ELSE CAST(floor((length(coalesce(text, '')) - 17) / 48.0) AS INT) + 1
        |    END AS n_chunks
        |  FROM documents),
        |e AS (SELECT doc_id, t, n_chunks,
        |        unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |      FROM c)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(chunk_idx * 48 AS INT) AS chunk_start,
        |  substr(t, CAST(chunk_idx * 48 + 1 AS INT), 64) AS chunk_text, n_chunks
        |FROM e""".stripMargin,

    "chunk_concat_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "corpus_report" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(n_chars) AS BIGINT) * 100 // count(*) AS avg_chars_fp
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,

    "kmeans_centroids" ->
      s"""WITH $kmeansCtes
         |SELECT cell, CAST(dim AS INT) AS dim, m AS centroid_val,
         |       n AS n_members
         |FROM m2""".stripMargin,

    "kmeans_assign" ->
      s"""WITH $kmeansCtes,
         |cents2 AS (
         |  SELECT cell, list(m ORDER BY dim) AS cv, max(n) AS n_members
         |  FROM m2 GROUP BY cell),
         |as3 AS (
         |  SELECT vec_id, cell, cosine, n_members FROM (
         |    SELECT a.vec_id, c.cell, c.n_members,
         |      round(list_cosine_similarity(a.embedding::DOUBLE[], c.cv), 4)
         |        AS cosine,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        round(list_cosine_similarity(a.embedding::DOUBLE[], c.cv), 4) DESC,
         |        c.cell DESC) AS rn
         |    FROM a1 a CROSS JOIN cents2 c) WHERE rn = 1)
         |SELECT vec_id, cell, cosine, n_members FROM as3""".stripMargin,

    "pca_invariants" ->
      """SELECT TRUE AS orthonormal, TRUE AS eigen_ordered,
        |       TRUE AS variance_matches""".stripMargin,

    "passage_repeats" ->
      s"""WITH $passageCte, ${passageRepCtes(8)}
         |SELECT doc_id, CAST(start_idx AS INT) AS start_idx, gram, n_occ,
         |       is_canonical
         |FROM rep""".stripMargin,

    "passage_strip" ->
      s"""WITH $passageCte, ${passageRepCtes(8)}, ${passageStripCtes(8)}
         |SELECT p.doc_id, coalesce(a.wasf, FALSE) AS was_stripped,
         |  CASE WHEN a.wasf THEN coalesce(r.rb, '')
         |       ELSE coalesce(p.text, '') END AS text_stripped
         |FROM pdocs p
         |LEFT JOIN affected a USING (doc_id)
         |LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    "curate_corpus" ->
      s"""WITH gws AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(trim(text, ' ')), '\\s+'),
         |                w -> w <> '') AS ws
         |  FROM documents),
         |gst AS (
         |  SELECT doc_id, text, len(ws) AS n_words,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "length(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))",
                "len(ws)")}
         |      ELSE 0.0 END AS mwl,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(regexp_extract_all(coalesce(text, ''), '#'))" +
                " + len(regexp_extract_all(coalesce(text, ''), '\\.{3}|…'))",
                "len(ws)")}
         |      ELSE 0.0 END AS swr,
         |    CASE WHEN len(ws) > 0 THEN ${r4(
                "len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))",
                "len(ws)")}
         |      ELSE 0.0 END AS awf,
         |    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
         |                               l -> trim(l, ' ')), l -> l <> '') AS gls
         |  FROM gws),
         |gst2 AS (
         |  SELECT *,
         |    CASE WHEN len(gls) > 0 THEN ${r4(
                "len(list_filter(gls, l -> regexp_matches(l, '^[-*•]')))",
                "len(gls)")}
         |      ELSE 0.0 END AS blf,
         |    CASE WHEN len(gls) > 0 THEN ${r4(
                "len(list_filter(gls, l -> regexp_matches(l, '(\\.{3}|…)$')))",
                "len(gls)")}
         |      ELSE 0.0 END AS elf
         |  FROM gst),
         |g AS (
         |  SELECT doc_id, text FROM gst2
         |  WHERE n_words BETWEEN 30 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
         |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.5),
         |fp AS (
         |  SELECT doc_id, text,
         |    md5(regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g')) AS f
         |  FROM g),
         |pdocs AS (
         |  SELECT doc_id, text FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY f) AS keeper FROM fp)
         |  WHERE doc_id = keeper),
         |${passageRepCtes(5)}, ${passageStripCtes(5)},
         |res AS (
         |  SELECT p.doc_id, coalesce(a.wasf, FALSE) AS was_stripped,
         |    CASE WHEN a.wasf THEN coalesce(r.rb, '')
         |         ELSE coalesce(p.text, '') END AS text
         |  FROM pdocs p
         |  LEFT JOIN affected a USING (doc_id)
         |  LEFT JOIN rebuilt r USING (doc_id)),
         |lr AS (
         |  SELECT doc_id, was_stripped, text,
         |    list_filter(string_split_regex(lower(trim(text, ' ')), '\\s+'),
         |                w -> w <> '') AS ws
         |  FROM res),
         |l2 AS (
         |  SELECT doc_id, was_stripped, text, ws,
         |    ${stopRatioSql("de")} AS r_de, ${stopRatioSql("en")} AS r_en,
         |    ${stopRatioSql("es")} AS r_es, ${stopRatioSql("fr")} AS r_fr
         |  FROM lr)
         |SELECT doc_id, ${langCaseSql()} AS lang, CAST(len(ws) AS INT) AS n_tokens,
         |       was_stripped
         |FROM l2""".stripMargin,

    "decon_overlap" ->
      s"""WITH $wordsCte, $ngrams13Cte,
         |d AS (SELECT DISTINCT doc_id, sh FROM ngrams),
         |bench AS (SELECT DISTINCT sh, doc_id AS bench_id FROM ngrams
         |          WHERE doc_id % 50 = 3),
         |tot AS (
         |  SELECT documents.doc_id, coalesce(n_ngrams, 0) AS n_ngrams
         |  FROM documents LEFT JOIN (
         |    SELECT doc_id, count(*) AS n_ngrams FROM d GROUP BY 1) t
         |  ON documents.doc_id = t.doc_id),
         |hits AS (
         |  SELECT d.doc_id, count(DISTINCT d.sh) AS contaminated_ngrams,
         |         count(DISTINCT bench.bench_id) AS n_bench_docs
         |  FROM d JOIN bench USING (sh) GROUP BY 1)
         |SELECT tot.doc_id, n_ngrams,
         |  coalesce(contaminated_ngrams, 0) AS contaminated_ngrams,
         |  coalesce(n_bench_docs, 0) AS n_bench_docs,
         |  CASE WHEN n_ngrams = 0 THEN 0.0
         |       ELSE ${r4("coalesce(contaminated_ngrams, 0)", "n_ngrams")}
         |  END AS contamination
         |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id""".stripMargin,

    "decon_filter" ->
      s"""WITH $wordsCte, $ngrams13Cte,
         |d AS (SELECT DISTINCT doc_id, sh FROM ngrams),
         |bench AS (SELECT DISTINCT sh, doc_id AS bench_id FROM ngrams
         |          WHERE doc_id % 50 = 3),
         |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM d GROUP BY 1),
         |hits AS (
         |  SELECT d.doc_id, count(DISTINCT d.sh) AS contaminated_ngrams
         |  FROM d JOIN bench USING (sh) GROUP BY 1),
         |m AS (
         |  SELECT tot.doc_id,
         |    ${r4("coalesce(contaminated_ngrams, 0)", "n_ngrams")} AS contamination
         |  FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id)
         |SELECT documents.doc_id, lang, source, n_chars,
         |  coalesce(contamination, 0.0) AS contamination
         |FROM documents LEFT JOIN m ON documents.doc_id = m.doc_id
         |WHERE coalesce(contamination, 0.0) <= 0.1""".stripMargin,

    "text_normalize" ->
      s"""WITH ndocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 1
         |      THEN ${sqlLit(dirtyPrefix)} || text || ${sqlLit(dirtySuffix)}
         |      ELSE text END AS text
         |  FROM documents),
         |nn AS (
         |  SELECT doc_id, text,
         |${duckCanonicalize("text")} AS text_norm
         |  FROM ndocs)
         |SELECT doc_id, text_norm,
         |  CAST(length(coalesce(text, '')) - length(text_norm) AS INT)
         |    AS n_chars_removed
         |FROM nn""".stripMargin,

    "winnow_fingerprints" ->
      s"""WITH ${winnowFpCtes("documents")}
         |SELECT doc_id, unnest(list_sort(list_distinct(ms))) AS fp
         |FROM mn""".stripMargin,

    "winnow_pairs" ->
      s"""WITH wsrc AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 20000 AS doc_id, text FROM documents
         |  WHERE doc_id < 10),
         |${winnowFpCtes("wsrc")},
         |fpt AS (SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mn),
         |b AS (
         |  SELECT fp, (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
         |  FROM fpt GROUP BY fp),
         |e AS (SELECT fp, unnest(ids) AS id FROM b WHERE len(ids) >= 2),
         |p AS (
         |  SELECT e1.id AS a, e2.id AS b
         |  FROM e e1 JOIN e e2 ON e1.fp = e2.fp AND e1.id < e2.id)
         |SELECT a, b, count(*) AS n_shared
         |FROM p GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    "sft_render" ->
      s"""WITH $transcriptsCte,
         |rt AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || coalesce(role, '') || '|>' || chr(10) ||
         |    coalesce(text, '') || chr(10) AS frag
         |  FROM transcripts)
         |SELECT conv_id,
         |  string_agg(frag, '' ORDER BY turn_idx) AS text,
         |  count(*) AS n_turns,
         |  CAST(sum(length(frag)) AS BIGINT) AS n_chars
         |FROM rt GROUP BY conv_id""".stripMargin,

    "sft_mask_spans" ->
      s"""WITH $transcriptsCte,
         |rt AS (
         |  SELECT conv_id, turn_idx, role,
         |    length('<|' || coalesce(role, '') || '|>' || chr(10) ||
         |           coalesce(text, '') || chr(10)) AS flen,
         |    length(coalesce(role, '')) + 5 AS tag,
         |    length(coalesce(text, '')) AS tlen
         |  FROM transcripts),
         |off AS (
         |  SELECT *, coalesce(sum(flen) OVER (
         |      PARTITION BY conv_id ORDER BY turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |  FROM rt)
         |SELECT conv_id, turn_idx,
         |  CAST(o + tag AS BIGINT) AS span_start,
         |  CAST(o + tag + tlen AS BIGINT) AS span_end
         |FROM off WHERE role = 'assistant'""".stripMargin,

    "sft_mask_diff" ->
      "SELECT CAST(0 AS BIGINT) AS n_mismatch",

    "sft_truncate" ->
      s"""WITH $transcriptsCte,
         |tk AS (
         |  SELECT conv_id, turn_idx, role,
         |    CAST(len(regexp_extract_all(coalesce(text, ''),
         |      '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS n_toks
         |  FROM transcripts),
         |cum AS (
         |  SELECT *,
         |    CAST(sum(n_toks) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS rev_cum,
         |    min(turn_idx) OVER (PARTITION BY conv_id) AS min_idx
         |  FROM tk)
         |SELECT conv_id, turn_idx, role, n_toks, rev_cum,
         |  (rev_cum <= 300 OR (role = 'system' AND turn_idx = min_idx)) AS kept
         |FROM cum""".stripMargin,

    "sft_role_audit" ->
      s"""WITH $transcriptsCte,
         |ns AS (
         |  SELECT conv_id, turn_idx, role,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
         |  FROM transcripts WHERE role <> 'system'),
         |a AS (
         |  SELECT conv_id, count(*) AS n_turns_ns,
         |    arg_min(role, turn_idx) AS first_role,
         |    arg_max(role, turn_idx) AS last_role,
         |    CAST(sum(CASE WHEN prev = role THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_role_repeats
         |  FROM ns GROUP BY conv_id)
         |SELECT *, (first_role = 'user' AND last_role = 'assistant'
         |           AND n_role_repeats = 0) AS role_valid
         |FROM a""".stripMargin,

    "sft_corpus" ->
      s"""WITH $transcriptsCte,
         |tr AS (
         |  SELECT * FROM transcripts
         |  UNION ALL
         |  SELECT conv_id || 'x' AS conv_id, turn_idx, role, text, tool, ts
         |  FROM transcripts
         |  WHERE conv_id IN ('conv0', 'conv1', 'conv2', 'conv3', 'conv4')),
         |tk AS (
         |  SELECT conv_id, turn_idx, role,
         |    CAST(len(regexp_extract_all(coalesce(text, ''),
         |      '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS n_toks
         |  FROM tr),
         |cum AS (
         |  SELECT *,
         |    sum(n_toks) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_cum,
         |    min(turn_idx) OVER (PARTITION BY conv_id) AS min_idx
         |  FROM tk),
         |kept AS (
         |  SELECT conv_id, turn_idx FROM cum
         |  WHERE rev_cum <= 300 OR (role = 'system' AND turn_idx = min_idx)),
         |kt AS (SELECT tr.* FROM tr JOIN kept USING (conv_id, turn_idx)),
         |rt AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || coalesce(role, '') || '|>' || chr(10) ||
         |    coalesce(text, '') || chr(10) AS frag
         |  FROM kt),
         |r AS (
         |  SELECT conv_id,
         |    string_agg(frag, '' ORDER BY turn_idx) AS text,
         |    count(*) AS n_turns,
         |    CAST(sum(length(frag)) AS BIGINT) AS n_chars
         |  FROM rt GROUP BY conv_id),
         |f AS (
         |  SELECT conv_id, n_turns, n_chars,
         |    md5(regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g')) AS fp
         |  FROM r),
         |k AS (SELECT *, min(conv_id) OVER (PARTITION BY fp) AS keeper FROM f)
         |SELECT conv_id, n_turns, n_chars FROM k WHERE conv_id = keeper""".stripMargin,

    "decon_strip" ->
      s"""WITH sdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 5 THEN text || ' $deconPhrase'
         |         ELSE text END AS text
         |  FROM documents),
         |pw AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
         |                w -> w <> '') AS ws
         |  FROM sdocs),
         |og AS (
         |  SELECT doc_id, start_idx,
         |    md5(lower(array_to_string(ws[start_idx+1 : start_idx+13], ' ')))
         |      AS gram
         |  FROM (SELECT doc_id, ws,
         |          unnest(generate_series(0, len(ws) - 13)) AS start_idx
         |        FROM pw WHERE len(ws) >= 13)),
         |bench AS (SELECT md5('$deconPhrase') AS gram),
         |covered AS (
         |  SELECT DISTINCT doc_id, w_idx FROM (
         |    SELECT doc_id,
         |      unnest(generate_series(start_idx, start_idx + 12)) AS w_idx
         |    FROM og JOIN bench USING (gram))),
         |affected AS (SELECT DISTINCT doc_id, TRUE AS wasf FROM covered),
         |widx AS (
         |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
         |  FROM pw WHERE doc_id IN (SELECT doc_id FROM affected)),
         |kept AS (
         |  SELECT w.doc_id, w.i - 1 AS w_idx, w.ws[w.i] AS w
         |  FROM widx w ANTI JOIN covered c
         |    ON w.doc_id = c.doc_id AND w.i - 1 = c.w_idx),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(w, ' ' ORDER BY w_idx) AS rb
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.wasf, FALSE) AS was_stripped,
         |  CASE WHEN coalesce(a.wasf, FALSE) THEN coalesce(r.rb, '')
         |       ELSE coalesce(d.text, '') END AS text_stripped
         |FROM sdocs d LEFT JOIN affected a USING (doc_id)
         |             LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    "sample_hash" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 6))::INT
        |      / 16777216.0 < 0.25""".stripMargin,

    "mix_corpus" ->
      """WITH w(source, weight) AS (
        |  SELECT * FROM (VALUES ('src0', CAST(2.0 AS DOUBLE)),
        |    ('src1', CAST(1.5 AS DOUBLE)), ('src2', CAST(0.25 AS DOUBLE)),
        |    ('src3', CAST(1.0 AS DOUBLE))) v),
        |j AS (SELECT doc_id, d.source, weight
        |      FROM documents d JOIN w USING (source)),
        |e AS (SELECT doc_id, source, weight,
        |        CAST(unnest(range(CAST(greatest(ceil(weight), 1) AS BIGINT))) AS INT)
        |          AS epoch
        |      FROM j)
        |SELECT doc_id, source, epoch FROM e
        |WHERE epoch < floor(weight)
        |   OR ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR) || '#' ||
        |        CAST(epoch AS VARCHAR)), 1, 6))::INT / 16777216.0
        |      < weight - floor(weight)""".stripMargin,

    "tmix_sample" ->
      """WITH sb AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 6 THEN 'big'
        |         WHEN doc_id % 10 < 9 THEN 'mid'
        |         ELSE 'small' END AS src_bal
        |  FROM documents),
        |cnt AS (
        |  SELECT src_bal, count(*) AS n_source,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM sb GROUP BY 1),
        |q AS (
        |  SELECT src_bal, n_source,
        |    CAST(250 * w // (SELECT sum(w) FROM cnt) AS BIGINT) AS quota
        |  FROM cnt)
        |SELECT doc_id, src_bal, n_source, quota
        |FROM sb JOIN q USING (src_bal)
        |WHERE ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 6))::INT
        |      / 16777216.0 < least(1.0, quota / n_source)""".stripMargin,

    "clean_boiler_census" ->
      s"""WITH $boilerCorpusCte,
         |l1 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM corpus),
         |ln AS (SELECT DISTINCT doc_id,
         |         regexp_replace(lower(trim(line, ' ')), '\\s+', ' ', 'g') AS line_norm
         |       FROM l1)
         |SELECT line_norm, count(*) AS n_docs,
         |  ${r4("count(*)", "(SELECT count(*) FROM corpus)")} AS doc_frac
         |FROM ln WHERE line_norm <> ''
         |GROUP BY line_norm
         |HAVING count(*) >= 2
         |   AND ${r4("count(*)", "(SELECT count(*) FROM corpus)")} >= 0.05""".stripMargin,

    "clean_boiler_strip" ->
      s"""WITH $boilerCorpusCte,
         |l1 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM corpus),
         |ln AS (SELECT DISTINCT doc_id,
         |         regexp_replace(lower(trim(line, ' ')), '\\s+', ' ', 'g') AS line_norm
         |       FROM l1),
         |census AS (
         |  SELECT line_norm FROM ln WHERE line_norm <> ''
         |  GROUP BY line_norm
         |  HAVING count(*) >= 2
         |     AND ${r4("count(*)", "(SELECT count(*) FROM corpus)")} >= 0.05),
         |lx AS (SELECT doc_id, ls FROM
         |         (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus)),
         |pos AS (SELECT doc_id, unnest(ls) AS line,
         |          CAST(unnest(range(len(ls))) AS INT) AS line_no FROM lx),
         |kept AS (SELECT doc_id, line_no, line FROM pos
         |         WHERE regexp_replace(lower(trim(line, ' ')), '\\s+', ' ', 'g')
         |               NOT IN (SELECT line_norm FROM census))
         |SELECT corpus.doc_id,
         |  coalesce(string_agg(kept.line, chr(10) ORDER BY kept.line_no), '')
         |    AS text_clean
         |FROM corpus LEFT JOIN kept ON corpus.doc_id = kept.doc_id
         |GROUP BY corpus.doc_id""".stripMargin,

    "clean_repetition" ->
      s"""WITH $wordsCte, ${ngramsCte(2, "g2")}, ${ngramsCte(3, "g3")},
         |dl AS (SELECT doc_id,
         |         list_filter(list_transform(string_split(text, chr(10)),
         |           l -> regexp_replace(lower(trim(l, ' ')), '\\s+', ' ', 'g')),
         |           l -> l <> '') AS ls
         |       FROM documents),
         |lf AS (SELECT doc_id, CASE WHEN len(ls) > 0
         |         THEN ${r4("len(ls) - len(list_distinct(ls))", "len(ls)")}
         |         ELSE 0.0 END AS dup_line_frac FROM dl),
         |t2 AS (SELECT doc_id, ${r4("max(c)", "sum(c)")} AS top_2gram_frac
         |       FROM (SELECT doc_id, sh, count(*) AS c FROM g2 GROUP BY 1, 2)
         |       GROUP BY 1),
         |t3 AS (SELECT doc_id, ${r4("max(c)", "sum(c)")} AS top_3gram_frac
         |       FROM (SELECT doc_id, sh, count(*) AS c FROM g3 GROUP BY 1, 2)
         |       GROUP BY 1)
         |SELECT lf.doc_id, dup_line_frac,
         |  coalesce(top_2gram_frac, 0.0) AS top_2gram_frac,
         |  coalesce(top_3gram_frac, 0.0) AS top_3gram_frac
         |FROM lf LEFT JOIN t2 ON lf.doc_id = t2.doc_id
         |        LEFT JOIN t3 ON lf.doc_id = t3.doc_id""".stripMargin,

    "clean_pii_redact" ->
      s"""WITH $piiCorpusCte
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${CorpusClean.emailRe}')) AS n_emails,
         |  len(regexp_extract_all(text, '${CorpusClean.ipv4Re}')) AS n_ips,
         |  len(regexp_extract_all(text, '${CorpusClean.phoneRe}')) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${CorpusClean.emailRe}', '<EMAIL>', 'g'),
         |    '${CorpusClean.ipv4Re}', '<IP>', 'g'),
         |    '${CorpusClean.phoneRe}', '<PHONE>', 'g') AS text_redacted
         |FROM corpus""".stripMargin,

    "mc_block_features" ->
      s"""WITH $mcBlocksCtes
         |SELECT doc_id, block_no, text, CAST(len(text) AS INT) AS n_chars,
         |  CAST(link_chars AS INT) AS link_chars, CAST(n_tags AS INT) AS n_tags,
         |  ${r4("link_chars", "len(text)")} AS link_density,
         |  ${r4("len(text)", "greatest(n_tags, 1)")} AS text_tag_ratio,
         |  floor(sttr * 10000.0 + 0.5) / 10000.0 AS smoothed_ttr
         |FROM sm WHERE len(text) > 0""".stripMargin,

    "mc_density_content" ->
      s"""WITH $mcBlocksCtes,
         |kept AS (SELECT doc_id, block_no, text FROM tt
         |         WHERE len(text) > 0 AND ttr >= CAST(9.0 AS DOUBLE))
         |SELECT hc.doc_id,
         |  coalesce(string_agg(kept.text, chr(10) ORDER BY kept.block_no), '')
         |    AS text_density,
         |  CAST(count(kept.text) AS INT) AS n_blocks_kept
         |FROM hc LEFT JOIN kept ON hc.doc_id = kept.doc_id
         |GROUP BY hc.doc_id""".stripMargin,

    "mc_main_content" ->
      s"""WITH $mcBlocksCtes,
         |kept AS (SELECT doc_id, block_no, text FROM txt
         |         WHERE len(text) >= 25
         |           AND link_chars <= len(text) * CAST(0.33 AS DOUBLE))
         |SELECT hc.doc_id,
         |  coalesce(string_agg(kept.text, chr(10) ORDER BY kept.block_no), '')
         |    AS text_main,
         |  CAST(count(kept.text) AS INT) AS n_blocks_kept
         |FROM hc LEFT JOIN kept ON hc.doc_id = kept.doc_id
         |GROUP BY hc.doc_id""".stripMargin,

    "qm_weights" ->
      s"""WITH $qmWeightsCtes
         |SELECT tok, w_fp FROM wt""".stripMargin,

    "pack_sequences" ->
      """WITH pw AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
        |    CAST(coalesce(len(list_filter(string_split_regex(lower(trim(text, ' ')),
        |      '\s+'), t -> t <> '')), 0) AS INT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, bucket, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
        |    PRECEDING), 0) AS BIGINT) AS start_tok,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
        |    PRECEDING), 0) AS BIGINT) // 120 AS pack_in_bucket
        |FROM pw""".stripMargin,

    "pack_stats" ->
      """WITH pw AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
        |    CAST(coalesce(len(list_filter(string_split_regex(lower(trim(text, ' ')),
        |      '\s+'), t -> t <> '')), 0) AS INT) AS n_tokens
        |  FROM documents),
        |pp AS (
        |  SELECT bucket, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
        |      PRECEDING), 0) AS BIGINT) // 120 AS pack_in_bucket
        |  FROM pw)
        |SELECT bucket, pack_in_bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_fill
        |FROM pp GROUP BY 1, 2""".stripMargin,

    "lm_model" ->
      s"""WITH $lmModelCtes
         |SELECT prev, w, w_fp FROM lwt""".stripMargin,

    "lm_xent" ->
      s"""WITH $lmXentCtes
         |SELECT doc_id, label, n_bigrams, sum_fp,
         |  CASE WHEN n_bigrams > 0
         |       THEN (((-sum_fp) * 20000 + n_bigrams * 1000000)
         |             // (n_bigrams * 2000000)) / 10000.0
         |       ELSE 0.0 END AS xent
         |FROM xs""".stripMargin,

    "lm_ppx_buckets" ->
      s"""WITH $lmXentCtes,
         |fpx AS (SELECT doc_id, n_bigrams,
         |          CASE WHEN n_bigrams > 0
         |               THEN CAST((-sum_fp) * 1000 // n_bigrams AS BIGINT)
         |          END AS xent_fp
         |        FROM xs),
         |base AS (SELECT doc_id, xent_fp FROM fpx WHERE xent_fp IS NOT NULL),
         |nct AS (SELECT count(*) AS n_all FROM base),
         |samp AS (SELECT xent_fp FROM base, nct
         |         WHERE ('0x' || substr(md5('ppx:' || CAST(doc_id AS VARCHAR)),
         |                 1, 6))::INT / 16777216.0
         |               < least(0.5, 128.0 / greatest(n_all, 1))),
         |ranked AS (SELECT xent_fp, row_number() OVER (ORDER BY xent_fp) AS r,
         |                  count(*) OVER () AS n
         |           FROM samp),
         |cuts AS (SELECT
         |    max(CASE WHEN r = CAST(floor((n - 1) * (1.0 / 3)) AS BIGINT) + 1
         |        THEN xent_fp END) AS head_cut,
         |    max(CASE WHEN r = CAST(floor((n - 1) * (2.0 / 3)) AS BIGINT) + 1
         |        THEN xent_fp END) AS tail_cut
         |  FROM ranked)
         |SELECT doc_id, xent_fp,
         |  CASE WHEN xent_fp IS NULL THEN 'na'
         |       WHEN xent_fp <= head_cut THEN 'head'
         |       WHEN xent_fp <= tail_cut THEN 'middle'
         |       ELSE 'tail' END AS ppx_bucket
         |FROM fpx CROSS JOIN cuts""".stripMargin,

    "prep_corpus_trained" ->
      s"""WITH RECURSIVE $wordsCte, $shinglesCte, $dedupChainCtes, $qmWeightsCtes,
         |lr AS (
         |  SELECT doc_id, text, ws,
         |    ${stopRatioSql("de")} AS r_de, ${stopRatioSql("en")} AS r_en,
         |    ${stopRatioSql("es")} AS r_es, ${stopRatioSql("fr")} AS r_fr
         |  FROM words WHERE doc_id NOT IN (SELECT id FROM dupes)),
         |sct AS (SELECT doc_id, unnest(ws) AS tok FROM lr),
         |scj AS (SELECT sct.doc_id,
         |          coalesce(w.w_fp,
         |            (SELECT w_fp FROM wt WHERE tok = '__UNSEEN__')) AS wv
         |        FROM sct LEFT JOIN
         |          (SELECT * FROM wt
         |           WHERE tok NOT IN ('__PRIOR__', '__UNSEEN__')) w
         |          ON sct.tok = w.tok),
         |scs AS (SELECT doc_id, sum(wv) AS tok_sum FROM scj GROUP BY doc_id)
         |SELECT lr.doc_id, ${langCaseSql()} AS lang,
         |  CAST(coalesce(scs.tok_sum, 0) +
         |    (SELECT w_fp FROM wt WHERE tok = '__PRIOR__') AS BIGINT)
         |    AS score_fp
         |FROM lr LEFT JOIN scs ON lr.doc_id = scs.doc_id
         |WHERE coalesce(scs.tok_sum, 0) +
         |  (SELECT w_fp FROM wt WHERE tok = '__PRIOR__') > 0""".stripMargin,

    "qm_scores" ->
      s"""WITH $qmWeightsCtes,
         |ev AS (SELECT doc_id, label, text FROM qc WHERE doc_id % 5 = 4),
         |et AS (SELECT doc_id, unnest(list_filter(string_split_regex(
         |         lower(trim(text, ' ')), '\\s+'), t -> t <> '')) AS tok FROM ev),
         |ej AS (SELECT et.doc_id,
         |         coalesce(w.w_fp,
         |           (SELECT w_fp FROM wt WHERE tok = '__UNSEEN__')) AS w
         |       FROM et LEFT JOIN
         |         (SELECT * FROM wt
         |          WHERE tok NOT IN ('__PRIOR__', '__UNSEEN__')) w
         |         ON et.tok = w.tok),
         |es AS (SELECT doc_id, sum(w) AS tok_sum FROM ej GROUP BY doc_id)
         |SELECT ev.doc_id, ev.label,
         |  CAST(coalesce(es.tok_sum, 0) +
         |    (SELECT w_fp FROM wt WHERE tok = '__PRIOR__') AS BIGINT)
         |    AS score_fp,
         |  CASE WHEN coalesce(es.tok_sum, 0) +
         |    (SELECT w_fp FROM wt WHERE tok = '__PRIOR__') > 0
         |    THEN 1 ELSE 0 END AS label_hat
         |FROM ev LEFT JOIN es ON ev.doc_id = es.doc_id""".stripMargin,

    "f5_size_guard" ->
      s"""WITH $transcriptsCte, $keptLinesCtes,
         |c AS (SELECT conv_id, count(*) AS n_lines,
         |        count(*) FILTER (WHERE line_idx = 0) AS n_blocks
         |      FROM klines WHERE kept GROUP BY 1)
         |SELECT conv_id, n_lines FROM c
         |WHERE n_lines <= 9 AND n_blocks <= 1000""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id,
        |  -- withMediaMeta reads a NULL payload as zero bytes (documented
        |  -- Array.empty branch), so the mirror coalesces too
        |  coalesce(octet_length(encode(text)), 0) AS n_bytes,
        |  coalesce(octet_length(encode(text)), 0) * 10 AS duration_ms
        |FROM documents""".stripMargin,

    "mm_frames" ->
      """SELECT doc_id,
        |  CAST(coalesce(octet_length(encode(text)), 0) * 10 // 5000 + 1
        |       AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    "mm_header_probe" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       WHEN 2 THEN 'gif' ELSE NULL END AS format,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 640 + 1 AS INT)
        |       ELSE NULL END AS width,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 480 + 1 AS INT)
        |       ELSE NULL END AS height
        |FROM documents""".stripMargin,

    "mm_embed" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
        |c AS (SELECT doc_id,
        |  (doc_id*37)%256 AS ra, (doc_id*59)%256 AS ga, (doc_id*83)%256 AS ba,
        |  (doc_id*41+7)%256 AS rb, (doc_id*67+11)%256 AS gb,
        |  (doc_id*89+13)%256 AS bb
        |  FROM ids),
        |l AS (SELECT c.*, 299*ra+587*ga+114*ba AS la,
        |             299*rb+587*gb+114*bb AS lb FROM c),
        |p AS (SELECT l.*, CAST(unnest(generate_series(0, 22)) AS INT) AS pos
        |      FROM l)
        |SELECT doc_id, pos, CAST(
        |  CASE pos
        |    WHEN 0 THEN ((ra + rb) * 512 / 1024.0) / 255.0
        |    WHEN 1 THEN ((ga + gb) * 512 / 1024.0) / 255.0
        |    WHEN 2 THEN ((ba + bb) * 512 / 1024.0) / 255.0
        |    WHEN 3 THEN ((la + lb) * 512 / 1024.0) / 255000.0
        |    WHEN 4 THEN ((CASE WHEN la > 128000 THEN 512 ELSE 0 END)
        |               + (CASE WHEN lb > 128000 THEN 512 ELSE 0 END)) / 1024.0
        |    WHEN 5 THEN 32 / 4096.0
        |    WHEN 6 THEN 32 / 4096.0
        |    ELSE CASE WHEN (pos - 7) % 4 <= 1 THEN la / 255000.0
        |              ELSE lb / 255000.0 END
        |  END AS REAL) AS value
        |FROM p""".stripMargin,

    "mm_av_probe" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4'
        |       ELSE NULL END AS format,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 1280 + 16 AS INT)
        |       ELSE NULL END AS width,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 720 + 16 AS INT)
        |       ELSE NULL END AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 5 + 1) * 1000
        |            WHEN doc_id % 3 = 1 THEN (doc_id % 7 + 1) * 500
        |            ELSE octet_length(encode(text)) * 10
        |       END AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 8 * 1000 + 8000 AS INT)
        |       ELSE NULL END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 2 + 1 AS INT)
        |       ELSE NULL END AS channels
        |FROM documents""".stripMargin,

    "agent_tool_audit" ->
      s"""WITH $agentCte,
         |lw AS (
         |  SELECT conv_id, role, tool,
         |    lag(role) OVER w AS pr, lag(tool) OVER w AS pt,
         |    lead(role) OVER w AS nr, lead(tool) OVER w AS nt
         |  FROM agent
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |a AS (
         |  SELECT conv_id,
         |    CAST(sum(CASE WHEN role = 'assistant' AND tool IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_calls,
         |    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_results,
         |    CAST(sum(CASE WHEN role = 'tool' AND NOT
         |      (pr = 'assistant' AND pt IS NOT DISTINCT FROM tool)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_results,
         |    CAST(sum(CASE WHEN role = 'assistant' AND tool IS NOT NULL
         |      AND NOT (nr = 'tool' AND nt IS NOT DISTINCT FROM tool)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling_calls,
         |    CAST(sum(CASE WHEN tool IS NOT NULL
         |      AND role NOT IN ('assistant', 'tool')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_mistagged
         |  FROM lw GROUP BY conv_id)
         |SELECT *, (n_orphan_results = 0 AND n_dangling_calls = 0
         |           AND n_mistagged = 0) AS tool_valid
         |FROM a""".stripMargin,

    "agent_tool_stats" ->
      s"""WITH $agentCte,
         |lw AS (
         |  SELECT conv_id, role, tool, ts,
         |    lead(role) OVER w AS nr, lead(tool) OVER w AS nt,
         |    lead(ts) OVER w AS nts
         |  FROM agent
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
         |SELECT tool,
         |  CAST(count(*) AS BIGINT) AS n_calls,
         |  CAST(sum(CASE WHEN nr = 'tool' AND nt IS NOT DISTINCT FROM tool
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         |  CAST(sum(CASE WHEN nr = 'tool' AND nt IS NOT DISTINCT FROM tool
         |    THEN epoch_ms(nts) - epoch_ms(ts) ELSE 0 END) AS BIGINT)
         |    AS sum_lat_ms
         |FROM lw WHERE role = 'assistant' AND tool IS NOT NULL
         |GROUP BY tool""".stripMargin,

    "agent_loop_runs" ->
      s"""WITH $agentCte,
         |a AS (
         |  SELECT conv_id, turn_idx, coalesce(text, '') AS k
         |  FROM agent WHERE role = 'assistant'),
         |i AS (
         |  SELECT conv_id, turn_idx,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |    - row_number() OVER (PARTITION BY conv_id, k ORDER BY turn_idx)
         |      AS isl, k
         |  FROM a),
         |r AS (
         |  SELECT conv_id,
         |    CAST(min(turn_idx) AS INT) AS start_idx,
         |    CAST(max(turn_idx) AS INT) AS end_idx,
         |    CAST(count(*) AS BIGINT) AS run_len
         |  FROM i GROUP BY conv_id, k, isl)
         |SELECT conv_id, start_idx, end_idx, run_len
         |FROM r WHERE run_len >= 3""".stripMargin,

    // independent exact mirror: per-conv render with per-turn terminators,
    // prefix coverage via string prefix test (every turn ends with chr(2),
    // so a string prefix IS a turn-sequence prefix on this corpus)
    "agent_prefix_dedup" ->
      s"""WITH $transcriptsCte,
         |tr AS (
         |  SELECT conv_id, turn_idx, role, text FROM transcripts
         |  UNION ALL
         |  SELECT conv_id || 'p', turn_idx, role, text FROM transcripts
         |  WHERE conv_id IN ('conv0','conv1','conv2','conv3','conv4')
         |    AND turn_idx < 6
         |  UNION ALL
         |  SELECT conv_id || 'x', turn_idx, role, text FROM transcripts
         |  WHERE conv_id IN ('conv5','conv6','conv7')),
         |r AS (
         |  SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
         |    string_agg(coalesce(role, '') || chr(1) ||
         |               coalesce(text, '') || chr(2), '' ORDER BY turn_idx)
         |      AS s
         |  FROM tr GROUP BY conv_id),
         |cov AS (
         |  SELECT a.conv_id, min(b.conv_id) AS covered_by
         |  FROM r a JOIN r b ON a.conv_id <> b.conv_id
         |    AND starts_with(b.s, a.s)
         |    AND (b.n_turns > a.n_turns OR
         |         (b.n_turns = a.n_turns AND b.conv_id < a.conv_id))
         |  GROUP BY a.conv_id)
         |SELECT r.conv_id, r.n_turns,
         |  cov.covered_by IS NOT NULL AS is_prefix_dup, cov.covered_by
         |FROM r LEFT JOIN cov USING (conv_id)""".stripMargin,

    "agent_repair" ->
      s"""WITH $agentCte,
         |a2 AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 5 AND CAST(substr(conv_id, 5) AS BIGINT) % 3 = 0
         |         THEN 'assistant' ELSE role END AS role,
         |    text, tool, ts
         |  FROM agent),
         |c AS (
         |  SELECT conv_id, turn_idx, role, text, ts,
         |    CASE WHEN role IN ('assistant', 'tool') THEN tool END AS tool
         |  FROM a2),
         |k AS (
         |  SELECT *, lag(role) OVER w AS pr, lag(tool) OVER w AS pt
         |  FROM c WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |f AS (
         |  SELECT conv_id, turn_idx, role, text, tool, ts FROM k
         |  WHERE role <> 'tool'
         |     OR (coalesce(pr = 'assistant', false)
         |         AND pt IS NOT DISTINCT FROM tool)),
         |b AS (
         |  SELECT *, CASE WHEN tool IS NOT NULL
         |    OR lag(tool) OVER w2 IS NOT NULL
         |    OR role IS DISTINCT FROM lag(role) OVER w2
         |    THEN 1 ELSE 0 END AS brk
         |  FROM f WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |i AS (
         |  SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM b),
         |g AS (
         |  SELECT conv_id, isl, min(turn_idx) AS o, min(role) AS role,
         |    string_agg(coalesce(text, ''), chr(10) ORDER BY turn_idx) AS text,
         |    max(tool) AS tool, min(ts) AS ts
         |  FROM i GROUP BY conv_id, isl)
         |SELECT conv_id,
         |  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY o) - 1 AS INT)
         |    AS turn_idx,
         |  role, text, tool, ts
         |FROM g""".stripMargin,

    "agent_repair_valid" ->
      "SELECT CAST(0 AS BIGINT) AS n_bad",

    // full chain: messy view → clones → repair → string-prefix dedup →
    // render (each stage mirrors its standalone oracle)
    "agent_corpus" ->
      s"""WITH $agentCte,
         |a2 AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 5 AND CAST(substr(conv_id, 5) AS BIGINT) % 3 = 0
         |         THEN 'assistant' ELSE role END AS role,
         |    text, tool, ts
         |  FROM agent),
         |tr AS (
         |  SELECT * FROM a2
         |  UNION ALL
         |  SELECT conv_id || 'p' AS conv_id, turn_idx, role, text, tool, ts
         |  FROM a2
         |  WHERE conv_id IN ('conv0', 'conv1', 'conv2') AND turn_idx < 6),
         |c AS (
         |  SELECT conv_id, turn_idx, role, text, ts,
         |    CASE WHEN role IN ('assistant', 'tool') THEN tool END AS tool
         |  FROM tr),
         |k AS (
         |  SELECT *, lag(role) OVER w AS pr, lag(tool) OVER w AS pt
         |  FROM c WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |f AS (
         |  SELECT conv_id, turn_idx, role, text, tool, ts FROM k
         |  WHERE role <> 'tool'
         |     OR (coalesce(pr = 'assistant', false)
         |         AND pt IS NOT DISTINCT FROM tool)),
         |b AS (
         |  SELECT *, CASE WHEN tool IS NOT NULL
         |    OR lag(tool) OVER w2 IS NOT NULL
         |    OR role IS DISTINCT FROM lag(role) OVER w2
         |    THEN 1 ELSE 0 END AS brk
         |  FROM f WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |i AS (
         |  SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM b),
         |g AS (
         |  SELECT conv_id, isl, min(turn_idx) AS o, min(role) AS role,
         |    string_agg(coalesce(text, ''), chr(10) ORDER BY turn_idx) AS text
         |  FROM i GROUP BY conv_id, isl),
         |rep AS (
         |  SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY o) - 1
         |      AS INT) AS turn_idx,
         |    role, text
         |  FROM g),
         |pr AS (
         |  SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
         |    string_agg(coalesce(role, '') || chr(1) ||
         |               coalesce(text, '') || chr(2), '' ORDER BY turn_idx)
         |      AS s
         |  FROM rep GROUP BY conv_id),
         |cov AS (
         |  SELECT a.conv_id
         |  FROM pr a JOIN pr b ON a.conv_id <> b.conv_id
         |    AND starts_with(b.s, a.s)
         |    AND (b.n_turns > a.n_turns OR
         |         (b.n_turns = a.n_turns AND b.conv_id < a.conv_id))
         |  GROUP BY a.conv_id),
         |rt AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || coalesce(role, '') || '|>' || chr(10) ||
         |    coalesce(text, '') || chr(10) AS frag
         |  FROM rep WHERE conv_id NOT IN (SELECT conv_id FROM cov))
         |SELECT conv_id,
         |  count(*) AS n_turns,
         |  CAST(sum(length(frag)) AS BIGINT) AS n_chars
         |FROM rt GROUP BY conv_id""".stripMargin,

    "emb_mean_pool" ->
      """WITH e AS (
        |  SELECT vec_id // 10 AS g, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (
        |  SELECT g, pos,
        |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS BIGINT) AS sfp,
        |    count(*) AS n
        |  FROM e GROUP BY g, pos)
        |SELECT g AS group_id, CAST(n AS BIGINT) AS n_vecs,
        |  CAST(pos - 1 AS INT) AS pos,
        |  CAST(floor(sfp * 1.0 / n) AS BIGINT) AS component
        |FROM s""".stripMargin,

    "dedup_lsh_plan" ->
      """WITH taus AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS tau),
        |rs AS (SELECT unnest([1, 2, 4, 8, 16]) AS r),
        |t AS (
        |  SELECT tau, r, 16 // r AS b,
        |    pow(1.0 / (16 // r), 1.0 / r) AS thr
        |  FROM taus CROSS JOIN rs),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY tau
        |    ORDER BY abs(thr - tau), r) AS rn
        |  FROM t)
        |SELECT CAST(round(tau * 1000000) AS BIGINT) AS tau_fp,
        |  CAST(r AS INT) AS rows_per_band,
        |  CAST(b AS INT) AS bands,
        |  CAST(round(thr * 1000000) AS BIGINT) AS threshold_fp,
        |  CAST(round((1 - pow(1 - pow(tau, r), b)) * 1000000) AS BIGINT)
        |    AS p_at_tau_fp
        |FROM rk WHERE rn = 1""".stripMargin,

    "agent_pii_redact" ->
      s"""WITH $transcriptsCte,
         |p AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 3
         |      THEN text || ' contact a@b.com from 10.0.0.1 call 555 123 4567'
         |      ELSE text END AS text
         |  FROM transcripts)
         |SELECT conv_id, turn_idx,
         |  len(regexp_extract_all(text, '${CorpusClean.emailRe}')) AS n_emails,
         |  len(regexp_extract_all(text, '${CorpusClean.ipv4Re}')) AS n_ips,
         |  len(regexp_extract_all(text, '${CorpusClean.phoneRe}')) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${CorpusClean.emailRe}', '<EMAIL>', 'g'),
         |    '${CorpusClean.ipv4Re}', '<IP>', 'g'),
         |    '${CorpusClean.phoneRe}', '<PHONE>', 'g') AS text_redacted
         |FROM p""".stripMargin,

    "corpus_quantiles" ->
      """WITH r AS (
        |  SELECT source, n_chars AS value,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |q AS (SELECT CAST(unnest([250, 500, 750, 900]) AS BIGINT) AS q_permille)
        |SELECT r.source, q.q_permille, r.value,
        |  CAST(r.n AS BIGINT) AS n_sample
        |FROM r JOIN q ON r.rn = ((r.n - 1) * q.q_permille) // 1000""".stripMargin,

    "corpus_quantiles_sampled" ->
      """WITH v AS (
        |  SELECT source, n_chars AS value, doc_id FROM documents
        |  WHERE n_chars IS NOT NULL),
        |g AS (SELECT source, count(*) AS ng FROM v GROUP BY source),
        |-- null-safe group join: groupQuantiles keeps a NULL group key,
        |-- so the count join must not equi-drop it
        |s AS (SELECT v.source, v.value FROM v JOIN g
        |      ON v.source IS NOT DISTINCT FROM g.source
        |      WHERE ('0x' || substr(md5('gq:' || CAST(doc_id AS VARCHAR)),
        |              1, 6))::INT / 16777216.0 < least(1.0, 40.0 / ng)),
        |r AS (
        |  SELECT source, value,
        |    row_number() OVER (PARTITION BY source ORDER BY value) - 1 AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM s),
        |q AS (SELECT CAST(unnest([250, 500, 750, 900]) AS BIGINT) AS q_permille)
        |SELECT r.source, q.q_permille, r.value,
        |  CAST(r.n AS BIGINT) AS n_sample
        |FROM r JOIN q ON r.rn = ((r.n - 1) * q.q_permille) // 1000""".stripMargin,

    // render mirrors sft_render; the minhash→verify→components chain is
    // the shared dedupChainCtes over a conversation-keyed `words`
    "agent_near_dup" ->
      s"""WITH RECURSIVE $transcriptsCte,
         |tr AS (
         |  SELECT conv_id, turn_idx, role, text FROM transcripts
         |  UNION ALL
         |  SELECT conv_id || 'n', turn_idx, role,
         |    CASE WHEN turn_idx = 9 THEN text || ' extra' ELSE text END
         |  FROM transcripts
         |  WHERE conv_id IN ('conv0','conv1','conv2','conv3','conv4',
         |                    'conv5','conv6','conv7','conv8','conv9')),
         |rt AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || coalesce(role, '') || '|>' || chr(10) ||
         |    coalesce(text, '') || chr(10) AS frag
         |  FROM tr),
         |docs0 AS (
         |  SELECT conv_id AS doc_id,
         |    string_agg(frag, '' ORDER BY turn_idx) AS text
         |  FROM rt GROUP BY conv_id),
         |words AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text, ' ')),
         |    '\\s+'), w -> w <> '') AS ws, text
         |  FROM docs0),
         |$shinglesCte,
         |$dedupChainCtes
         |SELECT doc_id AS conv_id FROM docs0
         |WHERE doc_id NOT IN (SELECT id FROM dupes)""".stripMargin,

    "dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id, text,
        |    md5(regexp_replace(lower(trim(text, ' ')), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |corpus AS (SELECT f FROM fp WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id + 100000 AS doc_id, text, f
        |  FROM fp WHERE doc_id >= 300)
        |SELECT b.doc_id, b.text FROM batch b
        |ANTI JOIN corpus c ON b.f = c.f""".stripMargin
  )
}
