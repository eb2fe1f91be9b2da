package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{LogPipeline, TokenSequences}

/** North-rule pipeline queries (BASELINE.json): the full
  * parse → enrich → route → aggregate flow over the deterministic
  * token-sequence table, with DuckDB oracles that regenerate the same
  * table analytically from `lineitem` (see [[TokenSequences.duckdbCte]])
  * — so the oracle independently validates the whole regex parse stage,
  * the broadcast enrich, the routing rule, and per-row token-array
  * equality.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  private def cte(extra: String = ""): String =
    "WITH " + TokenSequences.duckdbCte +
      (if (extra.nonEmpty) ", " + extra else "") + "\n"

  /** sink rule shared by Spark (via rendered line shape) and oracle. */
  private val sinkSql =
    "CASE WHEN __r3 % 37 = 0 THEN 'audit' WHEN n_tok >= 512 THEN 'bulk' ELSE 'ingest' END"

  val queries: Map[String, Q] = Map(
    // The generated input table itself (doc_id, tokens, n_tok, source).
    // Token arrays are rendered to CSV strings: the driver's checker
    // cannot hash raw array cells (pandas sort_values dies on ndarray),
    // and a delimited string is exactly as strong a per-row equality.
    // No orderBy: the driver's checker sorts rows itself, and a global
    // sort of 600k ~3KB rendered rows is pure overhead at bench time.
    // tokens_csv via the codegen JoinInts digit-writer (round 6):
    // byte-identical to concat_ws(",", tokens) — spec-asserted — without
    // the per-element UTF8String allocation of the implicit
    // array<int> -> array<string> cast (~500 strings/row).
    "q_pipe_tokens" -> ((s, dir) => {
      TokenSequences.fromLineitem(s, dir)
        .select(col("doc_id"), col("n_tok"), col("source"),
          graft.functions.JoinInts(col("tokens")).as("tokens_csv"))
    }),

    // render -> regex parse: typed fields + matched-pattern routing key +
    // month-name timestamp composition, validated against the generating
    // model (the oracle never touches a regex).
    "q_pipe_parse" -> ((s, dir) => {
      val seqs = TokenSequences.fromLineitem(s, dir)
      val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
      parsed.select(col("doc_id"), col("sink"), col("source"),
          col("n_tok").cast(LongType).as("n_tok"),
          unix_micros(col("event_ts")).as("ts_us"))
    }),

    // + broadcast left-outer enrich: per (sink, region) counts; src13 is
    // missing from the dimension -> NULL region rows must survive.
    "q_pipe_enrich" -> ((s, dir) => {
      val seqs = TokenSequences.fromLineitem(s, dir)
      val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
      LogPipeline.enrich(parsed, LogPipeline.sourceDim(s))
        .groupBy(col("sink"), col("region"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("sum_tok"))
    }),

    // full route stage (salted repartition) -> per-sink aggregates:
    // the BASELINE "per-sink count parity" gate.
    "q_pipe_route" -> ((s, dir) => {
      val seqs = TokenSequences.fromLineitem(s, dir)
      val routed = LogPipeline.parseEnrichRoute(s, seqs, partitions = 32, packTransport = true)
      routed.groupBy(col("sink"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_tok")).as("sum_tok"),
          (sum(col("n_tok")) / count(lit(1))).cast(LongType).as("avg_tok"),
          countDistinct(col("source")).as("nd_src"))
    }),

    // routed-row token-array equality (BASELINE per-row invariant):
    // tokens carried through render->parse->route must equal the
    // generating model's output recomputed from the *extracted* doc_id
    // and n_tok. Tokens are a pure function of seq_id, so no re-generated
    // table and no join: the check is a zero-shuffle inline expression
    // (the previous join-based formulation shuffled BOTH ~2 GB token
    // payloads on doc_id), and it additionally validates that doc_id and
    // n_tok survived the render->regex round trip.
    // Round 6: the equality runs in the PACKED domain — the transported
    // uint16 bytes are compared against PackTokens(regenerated tokens),
    // one binary memcmp per row, instead of unpacking to array<int> and
    // paying an element-wise comparison (PackTokens is injective on the
    // vocab-bounded domain, so packed equality IS token equality — see
    // PipelineSpec "packed-domain token equality"); the transport is
    // still validated byte-for-byte, and unpack∘pack identity keeps its
    // own spec + the scaling workload.
    "q_pipe_tokeq" -> ((s, dir) => {
      val seqs = TokenSequences.fromLineitem(s, dir)
      val routed = LogPipeline.parseEnrichRoute(s, seqs, partitions = 32,
        packTransport = true, unpackAfter = false)
      val expect = graft.functions.PackTokens(graft.functions.TokenGen(
        substring(col("doc_id"), 5, 24).cast(LongType), col("n_tok")))
      routed.withColumn("tokens_expect", expect)
        .groupBy(col("sink"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("tokens_in") === col("tokens_expect"), 1L).otherwise(0L)).as("n_eq"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_pipe_tokens" -> (cte() +
      "SELECT doc_id, n_tok, source, array_to_string(tokens, ',') AS tokens_csv FROM tokenseq ORDER BY doc_id"),

    "q_pipe_parse" -> (cte() + s"""
      SELECT doc_id, $sinkSql AS sink, source, CAST(n_tok AS BIGINT) AS n_tok,
        CASE WHEN __r3 % 37 = 0 THEN NULL
             ELSE epoch_us(make_timestamp(2024,
               CAST(__r3 // 2419200 % 12 AS INT) + 1,
               CAST(__r3 % 28 AS INT) + 1,
               CAST(__r3 // 28 % 24 AS INT),
               CAST(__r3 // 672 % 60 AS INT),
               CAST(__r3 // 40320 % 60 AS DOUBLE))) END AS ts_us
      FROM tokenseq ORDER BY doc_id"""),

    "q_pipe_enrich" -> (cte(LogPipeline.sourceDimSql) + s"""
      SELECT $sinkSql AS sink, region, count(*) AS n,
             CAST(sum(n_tok) AS BIGINT) AS sum_tok
      FROM tokenseq LEFT OUTER JOIN source_dim USING (source)
      GROUP BY 1, 2 ORDER BY sink, region"""),

    "q_pipe_route" -> (cte() + s"""
      SELECT sink, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             CAST(sum(n_tok) // count(*) AS BIGINT) AS avg_tok,
             count(DISTINCT source) AS nd_src
      FROM (SELECT $sinkSql AS sink, n_tok, source FROM tokenseq)
      GROUP BY sink ORDER BY sink"""),

    "q_pipe_tokeq" -> (cte() + s"""
      SELECT sink, count(*) AS n, count(*) AS n_eq
      FROM (SELECT $sinkSql AS sink FROM tokenseq)
      GROUP BY sink ORDER BY sink""")
  )
}
