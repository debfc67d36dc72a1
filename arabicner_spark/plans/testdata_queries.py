"""Driver-contract query battery over /root/testdata parquet tables.

Each entry pairs a Spark DataFrame implementation (the REAL pipeline
operators where applicable — extract_mentions / extract_triples /
link_surfaces / connected_components run inside several of these) with
an ANSI-SQL oracle DuckDB can execute on the same tables.  Column
names, types, and value precision are aligned on both sides (explicit
casts, round() on floats, md5-based hashing) so the driver's
row-count + schema + order-insensitive value-hash comparison is exact.

The KG family derives a transcript table of the BASELINE.json
input_hint shape deterministically from ``documents`` so both engines
see the same input.  The testdata gazetteer is constructed so that,
within any one type, phrase word-sets are disjoint and no phrase chains
into another — under that property the reference-faithful greedy BIO
path (kg_mentions_bio) provably emits exactly the all-occurrences
n-gram match set, which IS expressible in SQL; that gives the
mapInPandas NER stage a full-strength SQL oracle instead of a weaker
rows-only check.

PRECONDITIONS of that kg_mentions_bio parity (besides gazetteer word-
disjointness): documents.text must be single-space separated with no
edge spaces (the BIO path str.split()s, the oracle string_split()s raw
text), normalization-fixed (lowercase, nothing Arabic-foldable), and
under the 510-subword budget (the oracle does not model truncation).
tests/test_testdata_preconditions.py asserts all three per sf dir so a
testdata refresh fails with a diagnosis, not a bare hash MISMATCH.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from typing import Callable, Dict, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arabicner_spark.functions import hashing
from arabicner_spark.operators import ner, triples as triples_op
from arabicner_spark.operators.incremental import dedup_decision, near_bands
from arabicner_spark.operators.linking import best_alias
from arabicner_spark.sources.io import local_table, pin_width
from arabicner_spark.streaming import ingest

# ------------------------------------------------------------------ fixtures

N_CONVS = 50
EPOCH0 = 1767225600  # 2026-01-01T00:00:00Z

# (phrase, type, len); per type: word-disjoint, no cross-phrase chaining
GAZ = [
    ("customer", "ACTOR", 1),
    ("spark", "ENGINE", 1),
    ("join", "KEYW", 1),
    ("scan", "KEYW", 1),
    ("sort", "KEYW", 1),
    ("filter", "KEYW", 1),
    ("row", "OBJ", 1),
    ("column", "OBJ", 1),
    ("batch", "OBJ", 1),
    ("vector", "OBJ", 1),
    ("hash join", "OPER", 2),
    ("table scan", "OPER", 2),
    ("merge sort", "OPER", 2),
]
TYPES = sorted({t for _, t, _ in GAZ})  # ACTOR ENGINE KEYW OBJ OPER

PREDS_TD = [
    ("ENGINE", "runs", "OPER"),
    ("OPER", "reads", "OBJ"),
    ("ACTOR", "requests", "KEYW"),
    ("ENGINE", "serves", "ACTOR"),
]
WINDOW_TD = 6

# alias dictionary: each phrase -> entity; 'spark' also ambiguously
# maps to a low-weight decoy that the tie-break must reject.
ALIAS_TD = [
    (phrase, f"E{i:04d}", typ, 1.0) for i, (phrase, typ, _) in enumerate(GAZ)
] + [("spark", "E9999", "MISC", 0.2)]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings table with its vectors as doubles."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _cos(x: str, y: str) -> Column:
    """round(cos(x, y), 4) of two double-array columns.  Dot and norms
    are sequential folds (one IEEE multiply, then one add, per dim),
    so the value is bit-identical to the Arrow verifier's
    (hashing.cosine_bucket_verify)."""
    dot = F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t)
    nx = F.sqrt(F.aggregate(x, F.lit(0.0), lambda acc, t: acc + t * t))
    ny = F.sqrt(F.aggregate(y, F.lit(0.0), lambda acc, t: acc + t * t))
    return F.round(dot / (nx * ny), 4)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best (q, neighbor, cos) rows per q, ranked by cos desc
    then neighbor asc -> (q, neighbor, cos, rank).  The rank filter
    sits right on row_number, so Spark plans a WindowGroupLimit and
    never materializes a query's full score set."""
    w = Window.partitionBy("q").orderBy(F.col("cos").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "neighbor", "cos", "rank")
    )


@contextlib.contextmanager
def _temp_dirs(*names: str):
    """Yield one fresh temp dir per name (prefix ``arabicner_<name>_``)
    and delete them all on exit, whether the body returned or raised.
    A gate query materializes its (small) result inside the block, so
    nothing it returns reads these dirs (VERDICT r6 #7: streaming,
    corpus and compaction gate queries leaked a few dozen MB of /tmp
    per full gate run; a failed query must not leak them either)."""
    dirs = []
    try:
        for n in names:
            dirs.append(tempfile.mkdtemp(prefix=f"arabicner_{n}_"))
        yield dirs
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def _drain(spark, src_df, stream_of, result_of, mode="append", sink_of=None):
    """Run a bounded stream to its end; return its result, materialized.

    ``src_df`` is written as the parquet source of ``stream_of(src)``,
    which drains with availableNow into a memory sink in output
    ``mode`` — or, given ``sink_of``, through
    ``foreachBatch(sink_of(out))`` into a temp directory
    ``out``.  ``result_of`` shapes the memory sink's table (or reads
    ``out``).  Once that is checkpointed, or the run fails, the temp
    dirs and the sink's view, with the rows it holds on the driver, are
    dropped."""
    name = f"stream_{uuid.uuid4().hex[:8]}"
    with _temp_dirs("stream_src", "stream_ckpt", "stream_out") as (src, ckpt, out):
        try:
            src_df.write.mode("overwrite").parquet(src)
            stream = stream_of(src)
            if sink_of is None:
                writer = stream.writeStream.format("memory").queryName(name).outputMode(mode)
            else:
                writer = stream.writeStream.foreachBatch(sink_of(out))
            q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            q.awaitTermination()
            rows = spark.table(name) if sink_of is None else out
            return result_of(rows).localCheckpoint(eager=True)
        finally:
            spark.catalog.dropTempView(name)


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> transcript table of the input_hint shape."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.concat(
            F.lit("conv_"), F.lpad((F.col("doc_id") % N_CONVS).cast("string"), 4, "0")
        ).alias("conv_id"),
        (F.col("doc_id") / N_CONVS).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 2, "search").otherwise(F.lit(None)).alias("tool"),
        F.timestamp_seconds(F.lit(EPOCH0) + F.col("doc_id") * 60).alias("ts"),
    )


def gazetteer_dict_td() -> Dict[str, set]:
    out: Dict[str, set] = {}
    for phrase, typ, _ in GAZ:
        out.setdefault(typ, set()).add(tuple(phrase.split()))
    return out


def gaz_df(spark: SparkSession) -> DataFrame:
    rows = [(p, t, TYPES.index(t), n) for p, t, n in GAZ]
    return local_table(spark, rows, "phrase string, type string, level int, len int")


def alias_df_td(spark: SparkSession) -> DataFrame:
    return local_table(
        spark, ALIAS_TD, "alias string, entity_id string, entity_type string, weight double"
    )


def kg_prefix(spark: SparkSession, sf_dir: str, stage: str, ts: bool = False) -> DataFrame:
    """The KG pipeline prefix every kg_* query starts from, built one way:
    ``mentions`` (the real NER stage over the testdata gazetteer),
    ``linked`` (mentions LEFT JOIN the best alias on the surface),
    ``triples`` (windowed triples) or ``edges`` (triples
    whose subject and object both have an alias, as src/dst entity
    ids: one row per supporting triple).  ``ts`` adds the turn's
    ``ts_epoch`` to triples or edges."""
    m = ner.extract_mentions(transcripts(spark, sf_dir), gazetteer_dict_td())
    if stage == "mentions":
        return m
    if stage == "linked":
        ab = F.broadcast(best_alias(spark, ALIAS_TD))
        return m.join(ab, m["text"] == ab["alias"], "left")
    out = triples_op.extract_triples(m, PREDS_TD, WINDOW_TD)
    if stage == "edges":
        ab = F.broadcast(best_alias(spark, ALIAS_TD))
        out = out.join(
            ab.select(F.col("alias").alias("subj"), F.col("entity_id").alias("src")), "subj"
        ).join(
            ab.select(F.col("alias").alias("obj"), F.col("entity_id").alias("dst")), "obj"
        )
    if ts:
        turns = transcripts(spark, sf_dir).select(
            "conv_id", "turn_idx", F.unix_timestamp("ts").cast("long").alias("ts_epoch")
        )
        out = out.join(turns, ["conv_id", "turn_idx"])
    return out


def _seed_nodes(edges: DataFrame, k: int) -> DataFrame:
    """The ``k`` smallest node ids of an edge table."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return nodes.orderBy("node").limit(k)


# ------------------------------------------------------------ SQL fragments

_SQL_T = f"""
t AS (
  SELECT 'conv_' || lpad(CAST(doc_id % {N_CONVS} AS VARCHAR), 4, '0') AS conv_id,
         CAST(doc_id // {N_CONVS} AS INTEGER) AS turn_idx,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
              WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE NULL END AS tool,
         CAST({EPOCH0} + doc_id * 60 AS BIGINT) AS ts_epoch
  FROM documents
)"""

_SQL_GAZ = "gaz(phrase, type, level, len) AS (VALUES " + ", ".join(
    f"('{p}', '{t}', {TYPES.index(t)}, {n})" for p, t, n in GAZ
) + ")"

_SQL_MEN = f"""
tok AS (
  SELECT conv_id, turn_idx,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM t
),
tok2 AS (
  SELECT conv_id, turn_idx, pos, w,
         lead(w) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS w2
  FROM tok
),
{_SQL_GAZ},
men AS (
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 1 AS INTEGER) AS end_tok, w AS text
  FROM tok2 JOIN gaz g ON g.len = 1 AND g.phrase = w
  UNION ALL
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 2 AS INTEGER) AS end_tok, w || ' ' || w2 AS text
  FROM tok2 JOIN gaz g ON g.len = 2 AND w2 IS NOT NULL AND g.phrase = w || ' ' || w2
)"""

_SQL_PREDS = "preds(subj_type, pred, obj_type) AS (VALUES " + ", ".join(
    f"('{s}', '{p}', '{o}')" for s, p, o in PREDS_TD
) + ")"

_SQL_TRI = f"""
{_SQL_PREDS},
tri AS (
  SELECT DISTINCT a.text AS subj, p.pred, b.text AS obj,
         a.conv_id, a.turn_idx, a.type AS subj_type, b.type AS obj_type
  FROM men a
  JOIN men b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
  JOIN preds p ON p.subj_type = a.type AND p.obj_type = b.type
  WHERE NOT (a.level = b.level AND a.start_tok = b.start_tok AND a.end_tok = b.end_tok)
    AND greatest(b.start_tok - a.end_tok, a.start_tok - b.end_tok) <= {WINDOW_TD}
)"""

_SQL_ALIAS = "alias_raw(alias, entity_id, entity_type, weight) AS (VALUES " + ", ".join(
    f"('{a}', '{e}', '{t}', {w})" for a, e, t, w in ALIAS_TD
) + """),
alias_best AS (
  SELECT alias, entity_id, entity_type FROM (
    SELECT alias, entity_id, entity_type,
           row_number() OVER (PARTITION BY alias ORDER BY weight DESC, entity_id ASC) AS rn
    FROM alias_raw
  ) WHERE rn = 1
)"""


# ------------------------------------------------------------- KG queries

def q_kg_transcripts(spark, sf_dir):
    t = transcripts(spark, sf_dir)
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


SQL_KG_TRANSCRIPTS = f"WITH {_SQL_T} SELECT conv_id, turn_idx, role, text, tool, ts_epoch FROM t"


def _mentions_ngram(spark, sf_dir, gaz_rows=None):
    """Declarative gazetteer scan with ZERO shuffles before the
    broadcast join: candidate n-grams are generated as array
    expressions over the split token array (no window, no posexplode
    self-union — an earlier version paid a window shuffle and ran the
    scan subtree twice), so the plan is scan -> codegen explode ->
    broadcast hash join, fully pipelined at any scale.

    ``gaz_rows``: optional (phrase, type, len) list overriding GAZ
    (levels still index the GLOBAL sorted type list so two gazetteer
    variants stay level-compatible for evaluation joins)."""
    t = transcripts(spark, sf_dir)
    arr = F.split("text", " ")
    t = t.select("conv_id", "turn_idx", arr.alias("arr"))

    def cands(i):
        uni = F.struct(
            i.cast("int").alias("pos"),
            F.element_at(F.col("arr"), (i + 1).cast("int")).alias("ng"),
            F.lit(1).alias("len"),
        )
        bi = F.when(
            i + 2 <= F.size("arr"),
            F.struct(
                i.cast("int").alias("pos"),
                F.concat_ws(
                    " ",
                    F.element_at(F.col("arr"), (i + 1).cast("int")),
                    F.element_at(F.col("arr"), (i + 2).cast("int")),
                ).alias("ng"),
                F.lit(2).alias("len"),
            ),
        )
        return F.filter(F.array(uni, bi), lambda x: x.isNotNull())

    exploded = t.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.flatten(F.transform(F.sequence(F.lit(0), F.size("arr") - 1), cands))
        ).alias("c"),
    )
    if gaz_rows is None:
        g = gaz_df(spark)
    else:
        g = local_table(
            spark,
            [(p, t_, TYPES.index(t_), n) for p, t_, n in gaz_rows],
            "phrase string, type string, level int, len int",
        )
    return exploded.join(
        F.broadcast(g),
        on=[F.col("c.ng") == g["phrase"], F.col("c.len") == g["len"]],
    ).select(
        "conv_id",
        "turn_idx",
        "level",
        "type",
        F.col("c.pos").alias("start_tok"),
        (F.col("c.pos") + F.col("c.len")).cast("int").alias("end_tok"),
        F.col("c.ng").alias("text"),
    )


def q_kg_mentions(spark, sf_dir):
    return _mentions_ngram(spark, sf_dir)


SQL_KG_MENTIONS = f"""WITH {_SQL_T}, {_SQL_MEN}
SELECT conv_id, turn_idx, level, type, start_tok, end_tok, text FROM men"""


def q_kg_mentions_bio(spark, sf_dir):
    """The REAL NER stage (mapInPandas BxTxLxC argmax decode) — its
    output provably equals the n-gram scan on this gazetteer."""
    return kg_prefix(spark, sf_dir, "mentions")


SQL_KG_MENTIONS_BIO = SQL_KG_MENTIONS


def _flat_tags_td():
    """Deterministic flat tag vocab over the testdata types: O first,
    then B-/I- per sorted type — the BertSeqTagger label space."""
    return ["O"] + [f"{k}-{t}" for t in TYPES for k in ("B", "I")]


def _flat_encoder_td(tokens, max_seq_len):
    from arabicner_spark.functions import tagcore

    first_idx, n_sub, n_tag = tagcore.encode_tokens(tokens, max_seq_len)
    return first_idx, n_sub, n_tag, [101] + [0] * n_sub + [102]


def _flat_score_td(turns, gaz, typs, max_seq_len, encs=None):
    """The flat-family (BertSeqTagger) scoring path with a deterministic
    stand-in head: per-subword FLAT logits over _flat_tags_td() whose
    argmax is the gazetteer tag sequence, then the REAL
    bert_scorer.flat_to_nested_logits projection — so the flat decode
    semantics (argmax over the flat vocab, one tag per token,
    BertTrainer.py:115,132 + to_segments :139-163) are what the oracle
    gates, not a shortcut."""
    import numpy as np

    from arabicner_spark.functions import bert_scorer, tagcore

    flat_tags = _flat_tags_td()
    stoi = {t: i for i, t in enumerate(flat_tags)}
    t2l, t2b = bert_scorer.flat_tag_maps(flat_tags, list(typs))
    out = []
    for norm, e in zip(turns, encs):
        base = tagcore.score_turn(norm, gaz, typs, max_seq_len, enc=e[:3])
        ids = np.argmax(base, axis=-1)  # (T, L)
        flat = np.zeros((1, base.shape[0], len(flat_tags)), np.float32)
        flat[0, :, stoi["O"]] = 1.0
        for lvl in range(ids.shape[1]):
            col = ids[:, lvl]
            for lab, pre in ((tagcore.B_ID, "B-"), (tagcore.I_ID, "I-")):
                for pos in np.flatnonzero(col == lab):
                    flat[0, pos, stoi[f"{pre}{typs[lvl]}"]] = 5.0
        nested = bert_scorer.flat_to_nested_logits(flat, t2l, t2b, len(typs))
        out.append(nested[0])
    return out


_flat_score_td.batched = True


# Flat-family gazetteer: GAZ minus the unigrams that token-collide with
# a bigram of another type ("join" B-KEYW vs I-OPER inside "hash join",
# "scan"/"sort" likewise).  A single-tag-per-token model cannot express
# a token carrying two types, so its gazetteer must be token-disjoint
# ACROSS types for the mention set to be SQL-expressible (GAZ itself
# only guarantees disjointness WITHIN a type).  All 5 types survive, so
# level indices still match the global sorted TYPES order.
GAZ_FLAT = [r for r in GAZ if r[0] not in ("join", "scan", "sort")]


def q_kg_mentions_flat(spark, sf_dir):
    """The FLAT model family (BertSeqTagger) through the real Spark NER
    stage: flat per-subword logits -> flat argmax (one tag per token,
    BertTrainer.py:115,132) -> level projection
    (functions/bert_scorer.flat_to_nested_logits) -> shared decode.
    Over the token-disjoint GAZ_FLAT the flat family emits exactly the
    n-gram match set, giving the flat branch a full-strength SQL oracle
    like the nested branch has."""
    t = transcripts(spark, sf_dir)
    gaz: Dict[str, set] = {}
    for phrase, typ, _n in GAZ_FLAT:
        gaz.setdefault(typ, set()).add(tuple(phrase.split()))
    return ner.extract_mentions(
        t, gaz, encoder=_flat_encoder_td, score_fn=_flat_score_td
    )


_SQL_GAZ_FLAT = "gazf(phrase, type, level, len) AS (VALUES " + ", ".join(
    f"('{p}', '{t}', {TYPES.index(t)}, {n})" for p, t, n in GAZ_FLAT
) + ")"

SQL_KG_MENTIONS_FLAT = f"""WITH {_SQL_T}, {_SQL_MEN},
{_SQL_GAZ_FLAT},
menf AS (
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 1 AS INTEGER) AS end_tok, w AS text
  FROM tok2 JOIN gazf g ON g.len = 1 AND g.phrase = w
  UNION ALL
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 2 AS INTEGER) AS end_tok, w || ' ' || w2 AS text
  FROM tok2 JOIN gazf g ON g.len = 2 AND w2 IS NOT NULL AND g.phrase = w || ' ' || w2
)
SELECT conv_id, turn_idx, level, type, start_tok, end_tok, text FROM menf"""


def q_kg_triples(spark, sf_dir):
    return kg_prefix(spark, sf_dir, "triples")


SQL_KG_TRIPLES = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}
SELECT subj, pred, obj, conv_id, turn_idx, subj_type, obj_type FROM tri"""


def q_stream_kg_triples(spark, sf_dir):
    """The flagship NER -> triples dataflow under STRUCTURED STREAMING
    with the exactly-once sink: transcripts arrive as a multi-file
    stream (maxFilesPerTrigger=2 → several real micro-batches), each
    micro-batch runs the SAME batch operators (ner.extract_mentions ->
    extract_triples — both per-turn, so file-boundary batching cannot
    split a unit of work) inside foreachBatch, and lands in per-epoch
    overwrite directories (streaming/ingest.idempotent_parquet_sink).
    The union of epochs must equal the batch kg_triples oracle exactly
    — proving the micro-batch decomposition and the replay-safe sink
    change nothing about the KG the pipeline builds."""
    import glob

    from arabicner_spark import schemas

    gaz = gazetteer_dict_td()
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "subj_type", "obj_type"]

    def sink_of(out):
        write = ingest.idempotent_parquet_sink(out, cols)
        return lambda batch_df, epoch_id: write(
            triples_op.extract_triples(
                ner.extract_mentions(batch_df, gaz), PREDS_TD, WINDOW_TD
            ),
            epoch_id,
        )

    def result_of(out):
        assert glob.glob(f"{out}/__epoch=*"), "no epochs written"
        return spark.read.parquet(f"{out}/__epoch=*").select(*cols)

    return _drain(
        spark,
        transcripts(spark, sf_dir).repartition(4),
        lambda src: spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 2)
        .parquet(src),
        result_of,
        sink_of=sink_of,
    )


def q_kg_linked(spark, sf_dir):
    return (
        kg_prefix(spark, sf_dir, "linked")
        .groupBy(
            F.col("text").alias("surface"),
            F.coalesce("entity_id", F.concat(F.lit("S:"), "text")).alias("canonical_id"),
        )
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


SQL_KG_LINKED = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_ALIAS}
SELECT men.text AS surface,
       coalesce(ab.entity_id, 'S:' || men.text) AS canonical_id,
       count(*) AS n_mentions,
       CAST(count(DISTINCT men.conv_id) AS BIGINT) AS n_convs
FROM men LEFT JOIN alias_best ab ON men.text = ab.alias
GROUP BY 1, 2"""


def q_kg_nodes(spark, sf_dir):
    return (
        kg_prefix(spark, sf_dir, "linked")
        .where(F.col("alias").isNotNull())
        .groupBy(F.col("entity_id").alias("node_id"), F.col("type"))
        .agg(F.count("*").alias("n_mentions"))
    )


SQL_KG_NODES = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_ALIAS}
SELECT ab.entity_id AS node_id, men.type, count(*) AS n_mentions
FROM men JOIN alias_best ab ON men.text = ab.alias
GROUP BY 1, 2"""


def q_kg_edges(spark, sf_dir):
    return (
        kg_prefix(spark, sf_dir, "edges")
        .select("src", "pred", "dst", "conv_id", "turn_idx")
        .distinct()
    )


SQL_KG_EDGES = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS}
SELECT DISTINCT sa.entity_id AS src, tri.pred, sb.entity_id AS dst,
       tri.conv_id, tri.turn_idx
FROM tri JOIN alias_best sa ON tri.subj = sa.alias
         JOIN alias_best sb ON tri.obj = sb.alias"""


def q_kg_pagerank(spark, sf_dir):
    """Iterative graph analytics over the canonical KG: 5 PageRank
    power steps (damping 0.85) via the REAL
    operators/graph.pagerank_exact driver-loop operator (join + groupBy
    per round, localCheckpoint to cut lineage — the same
    iterative-dataflow class as connected components).  The oracle
    unrolls the 5 iterations as chained CTEs.

    FIXED-POINT gate (ADVICE r3): the float variant sums doubles whose
    accumulation order differs per engine/partitioning, so five
    compounded iterations could land a rank on a round(,4) boundary and
    flip the value-hash.  pagerank_exact keeps every rank a BIGINT in
    1e-9 units with integral division only — bit-identical in Spark and
    DuckDB by construction (`div` == `//` for non-negative ints).  The
    output rank is the single float op rank_i/1e9 (correctly rounded,
    identical everywhere)."""
    from arabicner_spark.operators.graph import PR_SCALE, pagerank_exact

    edges = q_kg_edges(spark, sf_dir)
    pr = pagerank_exact(edges, iterations=5, damping_pct=85)
    return pr.select(
        "node", (F.col("rank_i").cast("double") / F.lit(float(PR_SCALE))).alias("rank")
    )


def _sql_pr_iter(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT nd.node,
         cnt.base + (coalesce(s.inflow, 0) * 85) // 100 AS rank_i
  FROM nd CROSS JOIN cnt
  LEFT JOIN (SELECT e.dst AS node, sum(p.rank_i // od.outd) AS inflow
             FROM {prev} p JOIN ed e ON e.src = p.node JOIN od ON od.src = e.src
             GROUP BY e.dst) s ON s.node = nd.node
)"""


SQL_KG_PAGERANK = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
ed AS (SELECT DISTINCT sa.entity_id AS src, sb.entity_id AS dst
       FROM tri JOIN alias_best sa ON tri.subj = sa.alias
                JOIN alias_best sb ON tri.obj = sb.alias),
nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
               (CAST(1000000000 AS BIGINT) * 15) // (100 * CAST(count(*) AS BIGINT)) AS base
        FROM nd),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM ed GROUP BY src),
pr0 AS (SELECT node, 1000000000 // cnt.n AS rank_i FROM nd CROSS JOIN cnt),
{_sql_pr_iter('pr0', 'pr1')},
{_sql_pr_iter('pr1', 'pr2')},
{_sql_pr_iter('pr2', 'pr3')},
{_sql_pr_iter('pr3', 'pr4')},
{_sql_pr_iter('pr4', 'pr5')}
SELECT node, CAST(rank_i AS DOUBLE) / 1000000000.0 AS rank FROM pr5"""


def q_kg_top_surfaces(spark, sf_dir):
    """Per-group top-k: the 3 most frequent mention surfaces per entity
    type (count desc, surface asc tie-break).  A PARTITIONED rank
    window — Spark plans WindowGroupLimit, the map-side per-group top-k
    pushdown (the global-top-k counterpart is text_top_tokens's
    TakeOrderedAndProject; this pins the grouped variant)."""
    m = _mentions_ngram(spark, sf_dir)
    counts = m.groupBy("type", "text").agg(F.count("*").alias("n"))
    w = Window.partitionBy("type").orderBy(F.col("n").desc(), F.col("text").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("type", F.col("text").alias("surface"), F.col("n").cast("bigint").alias("n"), "rank")
    )


SQL_KG_TOP_SURFACES = f"""WITH {_SQL_T}, {_SQL_MEN},
c AS (SELECT type, text, count(*) AS n FROM men GROUP BY type, text)
SELECT type, text AS surface, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (PARTITION BY type ORDER BY n DESC, text ASC) AS INTEGER) AS rank
FROM c
QUALIFY rank <= 3"""


def q_kg_degrees(spark, sf_dir):
    """Graph analytics over the materialized KG: per-node out/in degree
    and distinct-neighbor counts from the canonical edge table.  One
    union + one aggregate; the edge table is the scale carrier and the
    output is node-vocabulary-sized."""
    edges = q_kg_edges(spark, sf_dir)
    ends = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("is_out"), F.col("dst").alias("peer")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("is_out"), F.col("src").alias("peer")
        )
    )
    return ends.groupBy("node").agg(
        F.sum("is_out").cast("bigint").alias("out_degree"),
        F.sum(1 - F.col("is_out")).cast("bigint").alias("in_degree"),
        F.countDistinct("peer").alias("n_neighbors"),
    )


SQL_KG_DEGREES = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
edges AS (
  SELECT DISTINCT sa.entity_id AS src, tri.pred, sb.entity_id AS dst,
         tri.conv_id, tri.turn_idx
  FROM tri JOIN alias_best sa ON tri.subj = sa.alias
           JOIN alias_best sb ON tri.obj = sb.alias
),
ends AS (
  SELECT src AS node, 1 AS is_out, dst AS peer FROM edges
  UNION ALL
  SELECT dst AS node, 0 AS is_out, src AS peer FROM edges
)
SELECT node, CAST(sum(is_out) AS BIGINT) AS out_degree,
       CAST(sum(1 - is_out) AS BIGINT) AS in_degree,
       CAST(count(DISTINCT peer) AS BIGINT) AS n_neighbors
FROM ends GROUP BY node"""


def q_kg_temporal_edges(spark, sf_dir):
    """Temporal KG rollup: edge counts per (pred, hour bucket) — the
    partition-pruning-friendly shape a time-sliced consumer reads."""
    hour = (F.floor(F.col("ts_epoch") / 3600) * 3600).cast("bigint")
    return (
        kg_prefix(spark, sf_dir, "triples", ts=True)
        .groupBy("pred", hour.alias("hour_epoch"))
        .agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("subj").alias("n_subjects"),
        )
    )


SQL_KG_TEMPORAL = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}
SELECT tri.pred,
       CAST(floor(t.ts_epoch / 3600) * 3600 AS BIGINT) AS hour_epoch,
       count(*) AS n_edges,
       CAST(count(DISTINCT tri.subj) AS BIGINT) AS n_subjects
FROM tri JOIN t ON t.conv_id = tri.conv_id AND t.turn_idx = tri.turn_idx
GROUP BY 1, 2"""


def q_kg_turn_stats(spark, sf_dir):
    t = transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.countDistinct("role").alias("n_roles"),
        F.min(F.unix_timestamp("ts")).alias("first_ts"),
        F.max(F.unix_timestamp("ts")).alias("last_ts"),
    )


SQL_KG_TURN_STATS = f"""WITH {_SQL_T}
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
       min(ts_epoch) AS first_ts, max(ts_epoch) AS last_ts
FROM t GROUP BY conv_id"""


def q_kg_conv_profile(spark, sf_dir):
    """Order-sensitive per-conversation features through the plain
    grouped-map Arrow shape (operators/convstats.conv_profiles —
    groupBy(conv_id).applyInPandas): role-path signature, longest
    same-role run, and an order-pinning md5 of the turn texts.  The
    oracle rebuilds all three in SQL (ordered string_agg +
    gaps-and-islands for the run length), so even the grouped-map UDF
    path gets exact value-hash parity."""
    from arabicner_spark.operators.convstats import conv_profiles

    return conv_profiles(transcripts(spark, sf_dir))


SQL_KG_CONV_PROFILE = f"""WITH {_SQL_T},
runs AS (
  SELECT conv_id, role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         - row_number() OVER (PARTITION BY conv_id, role ORDER BY turn_idx) AS grp
  FROM t
),
runlen AS (
  SELECT conv_id, count(*) AS rl FROM runs GROUP BY conv_id, role, grp
)
SELECT t.conv_id,
       CAST(count(*) AS INTEGER) AS n_turns,
       string_agg(substr(coalesce(role, '?'), 1, 1), '' ORDER BY turn_idx) AS role_path,
       CAST((SELECT max(rl) FROM runlen r WHERE r.conv_id = t.conv_id) AS INTEGER) AS longest_run,
       md5(string_agg(coalesce(text, ''), chr(31) ORDER BY turn_idx)) AS conv_md5
FROM t GROUP BY t.conv_id"""


def q_kg_components(spark, sf_dir):
    """MinHash-LSH blocking over documents + connected components
    (the REAL large-star/small-star operator), singletons included:
    the shared dedup chain (incremental.dedup_decision), whose LSH runs
    on exact-text representatives only (see incremental.exact_groups)
    — identical output, mass-duplication-proof plan."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    return dedup_decision(d).select(
        "node", F.col("keep").alias("component")
    )


def _sql_minhash_cte(src_cte: str) -> str:
    """Shared SQL: word-3gram shingles + 16 affine-family minhashes
    (one md5 base per shingle — hashing.minhash_affine_consts mirror)
    + 8 bands over ``{src_cte}`` providing (id, text)."""
    consts = hashing.minhash_affine_consts(16)
    mins = ", ".join(
        f"min((hb * {a} + {b}) % {hashing.MINHASH_P}) AS h{s}"
        for s, (a, b) in enumerate(consts)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, CAST(h{2 * b} AS VARCHAR) || '#' || CAST(h{2 * b + 1} AS VARCHAR) AS sig FROM hs"
        for b in range(8)
    )
    return f"""
dtok AS (
  SELECT id, CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM {src_cte}
),
dsh AS (
  SELECT DISTINCT id, w || ' ' || w1 || ' ' || w2 AS shingle
  FROM (SELECT id, w, pos,
               lead(w) OVER (PARTITION BY id ORDER BY pos) AS w1,
               lead(w, 2) OVER (PARTITION BY id ORDER BY pos) AS w2
        FROM dtok)
  WHERE w2 IS NOT NULL
),
dhb AS (
  SELECT id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hb FROM dsh
),
hs AS (SELECT id, {mins} FROM dhb GROUP BY id),
bands AS ({bands}),
pairs AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.id < y.id
)"""


SQL_KG_COMPONENTS = f"""WITH RECURSIVE
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
{_sql_minhash_cte('docsrc')},
exact AS (
  SELECT min(id) AS a, unnest(list(id)) AS b FROM docsrc GROUP BY md5(text)
),
alledges AS (
  SELECT a, b FROM exact WHERE a != b
  UNION SELECT a, b FROM pairs
),
sym AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
reach(node, r) AS (
  SELECT id, id FROM docsrc
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
)
SELECT node, min(r) AS component FROM reach GROUP BY node"""


def q_kg_nested_mentions(spark, sf_dir):
    """Nested-mention containment: inner mention strictly inside an
    outer mention on a DIFFERENT level (the cross-level nesting the
    multi-head BIO scheme exists for)."""
    m = kg_prefix(spark, sf_dir, "mentions")
    o = m.select(
        "conv_id", "turn_idx",
        F.col("level").alias("outer_level"), F.col("type").alias("outer_type"),
        F.col("start_tok").alias("os"), F.col("end_tok").alias("oe"),
        F.col("text").alias("outer_text"),
    )
    i = m.select(
        "conv_id", "turn_idx",
        F.col("level").alias("inner_level"), F.col("type").alias("inner_type"),
        F.col("start_tok").alias("is_"), F.col("end_tok").alias("ie"),
        F.col("text").alias("inner_text"),
    )
    return (
        o.join(i, ["conv_id", "turn_idx"])
        .where(
            (F.col("outer_level") != F.col("inner_level"))
            & (F.col("os") <= F.col("is_"))
            & (F.col("ie") <= F.col("oe"))
            & ((F.col("oe") - F.col("os")) > (F.col("ie") - F.col("is_")))
        )
        .select(
            "conv_id", "turn_idx", "outer_type", "outer_text",
            "inner_type", "inner_text",
            F.col("is_").alias("inner_start"), F.col("ie").alias("inner_end"),
        )
    )


SQL_KG_NESTED = f"""WITH {_SQL_T}, {_SQL_MEN}
SELECT o.conv_id, o.turn_idx, o.type AS outer_type, o.text AS outer_text,
       i.type AS inner_type, i.text AS inner_text,
       i.start_tok AS inner_start, i.end_tok AS inner_end
FROM men o JOIN men i
  ON o.conv_id = i.conv_id AND o.turn_idx = i.turn_idx
WHERE o.level != i.level
  AND o.start_tok <= i.start_tok AND i.end_tok <= o.end_tok
  AND (o.end_tok - o.start_tok) > (i.end_tok - i.start_tok)"""


def _global_topk(counts, order_cols, k: int):
    """Distributed global top-k: orderBy+limit plans as
    TakeOrderedAndProject (map-side partial top-k, single merge of k
    rows per partition) — an unpartitioned rank window would instead
    sort the ENTIRE table on one task (WindowGroupLimit only fires for
    partitioned windows).  The rank window then runs over k rows."""
    top = counts.orderBy(*order_cols).limit(k)
    w = Window.orderBy(*order_cols)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def q_text_top_tokens(spark, sf_dir):
    """Corpus-level top-20 tokens (deterministic tie-break on token)."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    return _global_topk(counts, [F.col("n").desc(), F.col("w").asc()], 20)


SQL_TEXT_TOP_TOKENS = """
WITH c AS (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
)
SELECT w, n, CAST(rank AS INTEGER) AS rank FROM (
  SELECT w, n, row_number() OVER (ORDER BY n DESC, w ASC) AS rank FROM c
) WHERE rank <= 20"""


def q_rel_hourly_events(spark, sf_dir):
    """Tumbling-hour event rollup (epoch-second window starts keep the
    comparison timestamp-free)."""
    ev = load(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    return ev.groupBy(hour.alias("hour_epoch"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("double")), 2).alias("sum_value"),
    )


SQL_REL_HOURLY = """
SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_epoch,
       event_type, count(*) AS n_events,
       round(sum(CAST(value AS DOUBLE)), 2) AS sum_value
FROM events GROUP BY 1, 2"""


# ------------------------------------------------------------ dedup family

def q_dedup_exact(spark, sf_dir):
    """Exact-hash dedup groups.  The testdata has no exact-duplicate
    documents below sf0.1, which made the sf0.01 driver gate vacuous
    (both engines returned 0 rows); to exercise the groupBy-collapse at
    every sf, the query unions in a deterministic replica of every 7th
    document (doc_id + 1_000_000) so dup groups exist by construction —
    real sf0.1 dup groups still flow through the same path."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    g = (
        d.unionByName(dup)
        .groupBy(hashing.md5_utf8(F.col("text")).alias("dup_group"))
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("keep_doc"))
    )
    return g.where(F.col("group_size") > 1)


SQL_DEDUP_EXACT = """WITH base AS (SELECT doc_id, text FROM documents),
alld AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 7 = 0
)
SELECT md5(text) AS dup_group, count(*) AS group_size, min(doc_id) AS keep_doc
FROM alld GROUP BY 1 HAVING count(*) > 1"""


SUBSTR_K = 8  # token k-gram width = minimum repeated-run length


def q_dedup_substring(spark, sf_dir):
    """Exact cross-document repeated-substring cut list
    (operators/repeated.repeated_substring_cuts, k=8 tokens) — the
    suffix-array-style dedup modality MinHash misses: verbatim token
    runs shared across otherwise-different documents.  The testdata
    has natural cross-doc 8-grams at every sf (1,115 / 1,015 / 10,533
    dup grams at sf0.001/0.01/0.1), so no fixture injection is
    needed.  -> (doc_id, start_tok, len_tok) maximal spans."""
    from arabicner_spark.operators.repeated import repeated_substring_cuts

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_substring_cuts(d, k=SUBSTR_K)


_SQL_SUBSTR_CUTS = f"""d AS (SELECT doc_id, string_split(text, ' ') AS toks
       FROM documents),
g AS (SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{SUBSTR_K - 1}], chr(1))) AS gram
      FROM d, unnest(generate_series(1, len(toks) - {SUBSTR_K - 1})) AS t(i)
      WHERE len(toks) >= {SUBSTR_K}),
dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
h AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM h),
cuts AS (SELECT doc_id, CAST(min(pos) AS INTEGER) AS start_tok,
                CAST(max(pos) - min(pos) + {SUBSTR_K} AS INTEGER) AS len_tok
         FROM isl GROUP BY doc_id, grp)"""

SQL_DEDUP_SUBSTRING = f"""WITH {_SQL_SUBSTR_CUTS}
SELECT doc_id, start_tok, len_tok FROM cuts"""


def q_dedup_substring_apply(spark, sf_dir):
    """End-to-end substring dedup: remove every cut span from the
    token stream (operators/repeated.apply_substring_cuts) ->
    (doc_id, text_deduped).  Docs with no cross-doc runs pass through
    byte-identical; single-space join mirrors the split, so the
    oracle reconstruction is exact."""
    from arabicner_spark.operators.repeated import (
        apply_substring_cuts,
        repeated_substring_cuts,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = repeated_substring_cuts(d, k=SUBSTR_K).localCheckpoint(eager=True)
    return apply_substring_cuts(d, cuts)


SQL_DEDUP_SUBSTRING_APPLY = f"""WITH {_SQL_SUBSTR_CUTS},
spans AS (SELECT doc_id, start_tok AS s, start_tok + len_tok AS e FROM cuts),
tok AS (SELECT d.doc_id, t.p, d.toks[t.p] AS tk
        FROM d, unnest(generate_series(1, len(d.toks))) AS t(p)),
kept AS (
  SELECT tok.doc_id, tok.p, tok.tk FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tok.doc_id
                      AND tok.p >= sp.s AND tok.p < sp.e)
),
agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS txt
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.txt, '') AS text_deduped
FROM d LEFT JOIN agg a USING (doc_id)"""


def q_dedup_minhash_lsh(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    pairs = hashing.lsh_candidate_pairs(near_bands(d), "id")
    return pairs.select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    )


SQL_DEDUP_MINHASH = f"""WITH
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
{_sql_minhash_cte('docsrc')}
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM pairs"""


def q_dedup_jaccard(spark, sf_dir):
    """LSH candidates verified with exact word-shingle Jaccard.

    r7 (guide section 4.2): shingles are produced by
    hashing.shingle_hash_table — per-document distinct + md5 in one
    Arrow pass (per-doc distinct == the old global (id, shingle)
    distinct), identified downstream by the full 128-bit md5 as two
    longs.  The minhash base is the identical first-8-hex-chars long,
    so signatures/bands/candidates are byte-identical; the
    intersection join compares two fixed-width longs instead of
    variable-length shingle strings.  md5 identity for set membership
    is the repo convention (exact dedup groups by md5(text) the same
    way)."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    # reused by signatures, both sides of the intersection join, and
    # sizes -> materialize once
    sh = hashing.shingle_hash_table(d, "id", "text", n=3).localCheckpoint(eager=True)
    sig = hashing.minhash_signatures(sh, ["id"], n_hashes=16, base_col="h32")
    pairs = hashing.lsh_candidate_pairs(
        hashing.lsh_bands(sig, ["id"], bands=8, rows_per_band=2), "id"
    )
    inter = (
        pairs.join(sh.select(F.col("id").alias("a"), "hi", "lo"), "a")
        .join(sh.select(F.col("id").alias("b"), "hi", "lo"), ["b", "hi", "lo"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    out = (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    return out


SQL_DEDUP_JACCARD = f"""WITH
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
{_sql_minhash_cte('docsrc')},
inter AS (
  SELECT p.a, p.b, count(*) AS i
  FROM pairs p JOIN dsh x ON x.id = p.a JOIN dsh y ON y.id = p.b AND y.shingle = x.shingle
  GROUP BY p.a, p.b
),
sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id)
SELECT CAST(inter.a AS BIGINT) AS a, CAST(inter.b AS BIGINT) AS b,
       round(inter.i / (sa.sz + sb.sz - inter.i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.id = inter.a JOIN sizes sb ON sb.id = inter.b
WHERE round(inter.i / (sa.sz + sb.sz - inter.i), 4) >= 0.5"""


def q_dedup_simhash(spark, sf_dir):
    # width pin (r7): token explode + 32 md5-nibble bit sums otherwise
    # run at the scan's 1-2 splits; groupBy(doc_id) reuses the doc_id
    # partitioning
    d = load(spark, sf_dir, "documents").repartition(
        pin_width(spark), F.col("doc_id")
    )
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return hashing.simhash32(tok, ["doc_id"], "w")


def _sql_simhash() -> str:
    bit_sums = []
    for j in range(32):
        nib = f"(instr('0123456789abcdef', substr(md5(w), {j // 4 + 1}, 1)) - 1)"
        bit = f"((({nib}) // {2 ** (j % 4)}) % 2)"
        bit_sums.append(f"sum({bit} * 2 - 1) AS b{j}")
    acc = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END" for j in range(32)
    )
    return f"""WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
sums AS (SELECT doc_id, {', '.join(bit_sums)} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({acc} AS BIGINT) AS simhash FROM sums"""


SQL_DEDUP_SIMHASH = _sql_simhash()


EMB_LSH_BITS = 5
EMB_LSH_BANDS = 48


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, sign-LSH blocked.

    Candidate generation is banded random-hyperplane LSH (exact int64
    fixed-point projections — see hashing.sign_lsh_bands), then exact
    cosine verification only within candidate buckets
    (hashing.cosine_bucket_verify): no cross join, and the candidate
    pairs never exist as rows.  The oracle computes the identical
    bucketing (md5-derived weights), so parity is by construction.
    GATE SEMANTICS: because oracle and query share the bucketing, this
    CORRECTNESS row pins BUCKETING PARITY, not the exact near-dup pair
    set — recall against the brute-force all-pairs truth is pinned
    separately by
    tests/test_dedup_embedding.py::test_lsh_recall_is_one_on_testdata,
    which runs at every sf refresh (measured 1.0 at every testdata sf
    with (5, 48); expected per-pair miss rate at the cos 0.45
    threshold is ~0.3%, so threshold-boundary pairs on NEW data may
    drop — by design, see PLANS.md)."""
    e = _embeddings(spark, sf_dir)
    bands = hashing.sign_lsh_bands(
        e, "vec_id", "v", bits_per_band=EMB_LSH_BITS, n_bands=EMB_LSH_BANDS
    )
    # sig is EMB_LSH_BITS '0'/'1' chars, so (band, sig) packs
    # injectively into one long bucket key
    packed = bands.select(
        "vec_id",
        (
            F.col("band").cast("long") * (1 << EMB_LSH_BITS)
            + F.conv("sig", 2, 10).cast("long")
        ).alias("bkey"),
    )
    return hashing.cosine_bucket_verify(packed, e, threshold=0.45, round_to=4)


def _sql_sign_lsh_cte() -> str:
    """Shared SQL: the exact sign-LSH bucketing of q_dedup_embedding —
    md5-parity +/-1 hyperplanes, int64 fixed-point projections, banded
    signatures, candidate pairs — over CTE ``e`` providing (vec_id, v)."""
    H = EMB_LSH_BITS * EMB_LSH_BANDS
    return f"""
w AS (
  SELECT CAST(t1.range AS INTEGER) AS j, CAST(t2.range AS INTEGER) AS i,
         CASE WHEN (instr('0123456789abcdef',
                          substr(md5(CAST(t1.range AS VARCHAR) || '|' ||
                                     CAST(t2.range AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS wt
  FROM range({H}) t1, range(64) t2
),
proj AS (
  SELECT e.vec_id, w.j,
         sum(CAST(w.wt AS BIGINT) * CAST(floor(e.v[w.i + 1] * 1000000.0) AS BIGINT)) AS p
  FROM e CROSS JOIN w GROUP BY e.vec_id, w.j
),
sigs AS (
  SELECT vec_id, CAST(j // {EMB_LSH_BITS} AS INTEGER) AS band,
         string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
  FROM proj GROUP BY vec_id, j // {EMB_LSH_BITS}
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM sigs x JOIN sigs y
    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id
)"""


SQL_DEDUP_EMBEDDING = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_sql_sign_lsh_cte()}
SELECT c.a, c.b,
       round(list_dot_product(x.v, y.v) /
             (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
FROM cand c JOIN e x ON x.vec_id = c.a JOIN e y ON y.vec_id = c.b
WHERE round(list_dot_product(x.v, y.v) /
            (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) >= 0.45"""


# ------------------------------------------------------- similarity search

def _brute_topk(e: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact cosine top-k of every vector with vec_id < n_queries
    against all the others: the broadcast query set crossed with the
    table, never a shuffled cartesian product."""
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q"), F.col("v").alias("vq")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where(F.col("q") != F.col("vec_id"))
        .select("q", F.col("vec_id").alias("neighbor"), _cos("vq", "v").alias("cos"))
    )
    return _top_k(scored, k)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 for query vectors vec_id < 5.

    Ranking on the ROUNDED score with vec_id tie-break keeps the order
    deterministic and engine-portable.
    """
    return _brute_topk(_embeddings(spark, sf_dir), 5, 10)


SQL_ANN_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q, v AS vq FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.q, e.vec_id AS neighbor,
         round(list_dot_product(q.vq, e.v) /
               (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
  FROM q, e WHERE q.q != e.vec_id
)
SELECT q, neighbor, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q, neighbor, cos,
         row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor ASC) AS rank
  FROM scored
) WHERE rank <= 10"""


def q_ann_lsh_bucketed(spark, sf_dir):
    """Sign-LSH bucketed ANN: bucket = sign bits of the first 8 dims
    (exact, portable); top-3 per query within its bucket."""
    bucket = F.concat_ws(
        "", *[F.when(F.element_at("v", i + 1) >= 0, "1").otherwise("0") for i in range(8)]
    )
    eb = _embeddings(spark, sf_dir).withColumn("bucket", bucket)
    q = eb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q"), F.col("v").alias("vq"), "bucket"
    )
    scored = (
        q.join(eb, "bucket")
        .where(F.col("q") != F.col("vec_id"))
        .select("q", F.col("vec_id").alias("neighbor"), _cos("vq", "v").alias("cos"))
    )
    return _top_k(scored, 3)


SQL_ANN_LSH = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         concat(
           CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END
         ) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q, v AS vq, bucket FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.q, e.vec_id AS neighbor,
         round(list_dot_product(q.vq, e.v) /
               (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
  FROM q JOIN e ON q.bucket = e.bucket AND q.q != e.vec_id
)
SELECT q, neighbor, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q, neighbor, cos,
         row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor ASC) AS rank
  FROM scored
) WHERE rank <= 3"""


IVF_CELLS = 8  # coarse centroids = vectors with vec_id < 8 (deterministic)
IVF_NPROBE = 2

# one fixed-point Lloyd assign round (shared by SQL_ANN_KMEANS and the
# refined-index CTEs): exact int64 L2² against centroid table c{p},
# arg-min with (dist, cl) tie order
_SQL_KM_ASSIGN = """d{r} AS (
  SELECT ev.vec_id, c.cl,
         CAST(SUM((ev.val - c.cval) * (ev.val - c.cval)) AS BIGINT) AS dist
  FROM ev JOIN c{p} c ON c.dim = ev.dim GROUP BY ev.vec_id, c.cl
),
a{r} AS (
  SELECT vec_id, cl, dist FROM d{r}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1
)"""

# the REFINED IVF index (mirrors ivf_ranked): fixed-point vectors, c0
# seed = id<IVF_CELLS, one Lloyd update -> c1, every vector ranked by
# exact int64 distance to c1.  Expects a prior CTE `e(vec_id, v)`.
_SQL_IVF_REFINED = f"""ev AS (
  SELECT vec_id, i AS dim, CAST(floor(v[i] * 1000000) AS BIGINT) AS val
  FROM e, unnest(generate_series(1, len(v))) AS u(i)
),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cl, dim, val AS cval
       FROM ev WHERE vec_id < {IVF_CELLS}),
{_SQL_KM_ASSIGN.format(r=1, p=0)},
c1 AS (
  SELECT a1.cl, ev.dim,
         CAST(CAST(sign(CAST(SUM(ev.val) AS BIGINT)) AS BIGINT)
              * (abs(CAST(SUM(ev.val) AS BIGINT)) // COUNT(*)) AS BIGINT) AS cval
  FROM ev JOIN a1 ON a1.vec_id = ev.vec_id GROUP BY a1.cl, ev.dim
),
d2 AS (
  SELECT ev.vec_id, c.cl,
         CAST(SUM((ev.val - c.cval) * (ev.val - c.cval)) AS BIGINT) AS dist
  FROM ev JOIN c1 c ON c.dim = ev.dim GROUP BY ev.vec_id, c.cl
),
cranked AS (
  SELECT vec_id, cl AS cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS cr
  FROM d2
),
assigned AS (SELECT vec_id, cid AS cell FROM cranked WHERE cr = 1),
probes AS (SELECT vec_id AS q, cid AS cell FROM cranked
           WHERE cr <= {IVF_NPROBE} AND vec_id < 20)"""


def ivf_ranked(e: DataFrame) -> DataFrame:
    """Per-vector centroid ranking for the IVF index, against REFINED
    centroids: the id<IVF_CELLS seed vectors are refined by one
    fixed-point Lloyd update (operators/kmeans.centroids_fp_from_ev —
    exactly the c1 table the gated ann_kmeans_refine query's 2-round
    run assigns against), then every vector is ranked by exact int64
    L2² distance to the k*dims broadcast centroid table, ties to the
    smaller centroid id.  cr=1 is the assignment; cr<=nprobe are the
    probe cells.  -> (vec_id, cid, dist_fp, cr).  Shared by q_ann_ivf,
    q_ann_recall and the bench's cell-balance leg so the measured
    fan-in IS the searched layout."""
    from arabicner_spark.operators.kmeans import (
        centroids_fp_from_ev,
        explode_fp,
    )

    ev = explode_fp(e, "vec_id", "v").localCheckpoint(eager=True)
    cents = centroids_fp_from_ev(ev, "vec_id", k=IVF_CELLS, updates=1)
    d = (
        ev.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "cl")
        .agg(
            F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval")))
            .cast("long")
            .alias("dist_fp")
        )
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("dist_fp").asc(), F.col("cid").asc()
    )
    return d.select("vec_id", F.col("cl").alias("cid"), "dist_fp").withColumn(
        "cr", F.row_number().over(w_assign)
    )


def ivf_ranked_raw(e: DataFrame) -> DataFrame:
    """The UNREFINED index (centroids = the raw id<IVF_CELLS vectors,
    cosine ranking) -> (vec_id, cid, cr) for the probed cells: kept
    for the refined-vs-raw recall comparison in
    tests/test_ann_quality.py, searched by no gated query."""
    cents = e.where(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("neighbor"), F.col("v").alias("vc")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("q"), "neighbor", _cos("v", "vc").alias("cos")
    )
    return _top_k(scored, IVF_NPROBE).select(
        F.col("q").alias("vec_id"), F.col("neighbor").alias("cid"), F.col("rank").alias("cr")
    )


def _ivf_search(e: DataFrame, ranked: DataFrame, k: int) -> DataFrame:
    """Top-k IVF search for the query vectors vec_id < 20 over an index
    ``ranked`` (vec_id, cid, cr): each vector lives in its cr=1 cell,
    each query probes its IVF_NPROBE nearest cells, and exact cosine
    runs only within the probed cells.  Vectors are re-joined after
    the cr filters, so the long-format ranking never carries arrays;
    the cell id is the shuffle key of the search join."""
    assigned = (
        ranked.where(F.col("cr") == 1)
        .join(e, "vec_id")
        .select("vec_id", "v", F.col("cid").alias("cell"))
    )
    probes = (
        ranked.where((F.col("cr") <= IVF_NPROBE) & (F.col("vec_id") < 20))
        .join(e, "vec_id")
        .select(F.col("vec_id").alias("q"), F.col("v").alias("vq"), F.col("cid").alias("cell"))
    )
    scored = (
        probes.join(assigned, "cell")
        .where(F.col("q") != F.col("vec_id"))
        .select("q", F.col("vec_id").alias("neighbor"), _cos("vq", "v").alias("cos"))
        .distinct()  # a neighbor reachable via both probed cells counts once
    )
    return _top_k(scored, k)


ANN_EVAL_K = 10


def q_ann_recall(spark, sf_dir):
    """Retrieval-quality metrics for the ANN index, IN the gate:
    recall@10 and reciprocal rank of the IVF search against the
    brute-force ground truth, per query plus a q=-1 corpus-mean row.
    This turns index quality from a test-only property into an
    oracle-gated number — the metric a 100-TB retrieval pipeline
    monitors when it tunes nprobe/cells.  All ranking on round(cos,4)
    with id tie-breaks, so both metric inputs are engine-exact."""
    return _ann_recall_df(spark, sf_dir, ivf_ranked)


def _ann_recall_df(spark, sf_dir, ranker) -> DataFrame:
    """recall@K + RR of an IVF search vs brute force, parameterized by
    the centroid-ranking function so tests/test_ann_quality.py can
    compare the refined index (ivf_ranked) against the unrefined one
    (ivf_ranked_raw) on identical metric plumbing."""
    e = _embeddings(spark, sf_dir)
    truth = _brute_topk(e, 20, ANN_EVAL_K).localCheckpoint(eager=True)
    approx = _ivf_search(e, ranker(e), ANN_EVAL_K).localCheckpoint(eager=True)

    # left join + conditional count, NOT a semi join: a query with ZERO
    # overlap must still appear with recall 0.0 — dropping it would
    # silently inflate the corpus mean
    hits = (
        truth.join(
            approx.select("q", "neighbor", F.lit(1).alias("__hit")),
            ["q", "neighbor"],
            "left",
        )
        .groupBy("q")
        .agg(F.round(F.count("__hit") / ANN_EVAL_K, 4).alias("recall_at_k"))
    )
    rr = (
        truth.where(F.col("rank") == 1)
        .select("q", "neighbor")
        .join(approx.select("q", "neighbor", F.col("rank").alias("arank")), ["q", "neighbor"], "left")
        .select("q", F.round(F.coalesce(1 / F.col("arank"), F.lit(0.0)), 4).alias("rr"))
    )
    per_q = hits.join(rr, "q").select(F.col("q").cast("bigint").alias("q"), "recall_at_k", "rr")
    summary = per_q.groupBy().agg(
        F.lit(-1).cast("bigint").alias("q"),
        F.round(F.avg("recall_at_k"), 4).alias("recall_at_k"),
        F.round(F.avg("rr"), 4).alias("rr"),
    ).select("q", "recall_at_k", "rr")
    return per_q.unionByName(summary)


SQL_ANN_RECALL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id AS q, v AS vq FROM e WHERE vec_id < 20),
bscored AS (
  SELECT qv.q, e.vec_id AS neighbor,
         round(list_dot_product(qv.vq, e.v) /
               (sqrt(list_dot_product(qv.vq, qv.vq)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
  FROM qv, e WHERE qv.q != e.vec_id
),
truth AS (
  SELECT q, neighbor, rnk FROM (
    SELECT q, neighbor, row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor ASC) AS rnk
    FROM bscored) WHERE rnk <= {ANN_EVAL_K}
),
{_SQL_IVF_REFINED},
cand AS (
  SELECT DISTINCT p.q, a.vec_id AS neighbor
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q
),
ascored AS (
  SELECT c.q, c.neighbor,
         round(list_dot_product(x.v, y.v) /
               (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.q JOIN e y ON y.vec_id = c.neighbor
),
approx AS (
  SELECT q, neighbor, rnk FROM (
    SELECT q, neighbor, row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor ASC) AS rnk
    FROM ascored) WHERE rnk <= {ANN_EVAL_K}
),
hits AS (
  SELECT t.q, round(count(a.neighbor) / {ANN_EVAL_K}.0, 4) AS recall_at_k
  FROM truth t LEFT JOIN approx a ON a.q = t.q AND a.neighbor = t.neighbor
  GROUP BY t.q
),
rr AS (
  SELECT t.q, round(coalesce(1.0 / a.rnk, 0.0), 4) AS rr
  FROM truth t LEFT JOIN approx a ON a.q = t.q AND a.neighbor = t.neighbor
  WHERE t.rnk = 1
),
per_q AS (
  SELECT CAST(h.q AS BIGINT) AS q, h.recall_at_k, rr.rr
  FROM hits h JOIN rr ON rr.q = h.q
)
SELECT q, recall_at_k, rr FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_k), 4), round(avg(rr), 4) FROM per_q"""


def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN top-3 over the REFINED index (ivf_ranked): the
    id<IVF_CELLS seed centroids refined by one fixed-point Lloyd
    update, every vector assigned to its nearest refined centroid by
    exact int64 L2² (broadcast k*dims centroid table — no shuffle).
    Assignment and probing rank on int64 distance with centroid-id
    tie-break, making the cell structure engine-portable and exact."""
    e = _embeddings(spark, sf_dir)
    return _ivf_search(e, ivf_ranked(e), 3)


SQL_ANN_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_SQL_IVF_REFINED},
cand AS (
  SELECT DISTINCT p.q, a.vec_id AS neighbor
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.q
),
scored AS (
  SELECT c.q, c.neighbor,
         round(list_dot_product(x.v, y.v) /
               (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.q JOIN e y ON y.vec_id = c.neighbor
)
SELECT q, neighbor, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q, neighbor, cos,
         row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor ASC) AS rank
  FROM scored
) WHERE rank <= 3"""


# ---------------------------------------------------------- text analysis

_STOPWORDS = ["the", "a", "of", "and", "to"]


def q_text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    avg_len = F.round((F.length("text") - n_tokens + 1) / n_tokens, 4)
    stop_ratio = F.round(n_stop / n_tokens, 4)
    score = F.round(
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.5 * (1 - n_stop / n_tokens), 4
    )
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


SQL_TEXT_QUALITY = f"""
WITH d AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             w -> list_contains({_STOPWORDS}, w))) AS n_stop
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round((length(text) - n_tokens + 1) / n_tokens, 4) AS avg_token_len,
       round(n_stop / n_tokens, 4) AS stopword_ratio,
       round(0.5 * least(n_tokens / 100.0, 1.0) + 0.5 * (1 - n_stop / n_tokens), 4)
         AS quality_score
FROM d"""


def q_text_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).cast("int").alias(
            "re_tokens"
        ),
        F.length("text").cast("int").alias("n_chars_measured"),
    )


SQL_TEXT_TOKENS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_measured
FROM documents"""


def q_text_subword_counts(spark, sf_dir):
    """Subword (not whitespace) token counting — the unit LLM data
    budgets are denominated in (operators/tokencount, stand-in chunker
    rule max(1, ceil(len/4)) per token, mirroring the reference
    tokenizer's [UNK] fallback, arabiner/data/transforms.py:23-52).
    Per-doc rows carry total subwords, subwords kept under the
    max_seq_len-2 truncation budget, and the count of TAGGABLE tokens
    (first subword inside the budget — transforms.py:101-107); a
    doc_id=-1 row is the corpus total.  Runs the pure-codegen
    expression path (one transform + one aggregate fold, no Python);
    the mapInPandas/tagcore twin is pinned equal in
    tests/test_tokencount.py."""
    from arabicner_spark.operators.tokencount import subword_counts_expr

    d = load(spark, sf_dir, "documents")
    per = subword_counts_expr(d, "doc_id", "text", max_seq_len=512)
    total = per.groupBy().agg(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.sum("n_tokens").cast("int").alias("n_tokens"),
        F.sum("n_subwords").cast("bigint").alias("n_subwords"),
        F.sum("n_kept").cast("int").alias("n_kept"),
        F.sum("n_taggable").cast("int").alias("n_taggable"),
    ).select("doc_id", "n_tokens", "n_subwords", "n_kept", "n_taggable")
    return per.unionByName(total)


SQL_TEXT_SUBWORD_COUNTS = """
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
         greatest(1, (length(unnest(string_split(text, ' '))) + 3) // 4) AS sl
  FROM documents
),
c AS (
  SELECT doc_id, sl,
         sum(sl) OVER (PARTITION BY doc_id ORDER BY pos) - sl AS first_idx
  FROM tok
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS INTEGER) AS n_tokens,
         CAST(sum(sl) AS BIGINT) AS n_subwords,
         CAST(least(sum(sl), 510) AS INTEGER) AS n_kept,
         CAST(sum(CASE WHEN first_idx < 510 THEN 1 ELSE 0 END) AS INTEGER) AS n_taggable
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_subwords, n_kept, n_taggable FROM per
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(sum(n_tokens) AS INTEGER), CAST(sum(n_subwords) AS BIGINT),
       CAST(sum(n_kept) AS INTEGER), CAST(sum(n_taggable) AS INTEGER)
FROM per"""


REP_CHUNK = 5


def q_text_repetition(spark, sf_dir):
    """Within-document repetition quality signals (the Gopher/C4-style
    duplicate-line filters, adapted to this corpus's flat word streams:
    a 'line' is a consecutive REP_CHUNK-word chunk).  Per doc: chunk
    count, distinct chunks, duplicate-chunk ratio, and the repeat count
    of the most-repeated chunk — the signals a corpus keep/drop rule
    thresholds on.  One explode + two partial-aggregable shuffles; the
    chunking itself is pure array expressions (no Python)."""
    # width pin (r7, guide sections 2.5/6): the chunk explode + hash
    # partial-agg otherwise runs at the 1-2-split scan width; the
    # groupBy(doc_id, chunk) reuses the doc_id hash partitioning, so
    # no extra exchange appears
    d = load(spark, sf_dir, "documents").repartition(
        pin_width(spark), F.col("doc_id")
    )
    arr = F.split("text", " ")
    n_chunks = F.floor(F.size(arr) / REP_CHUNK).cast("int")
    # Guard the empty case: sequence(1, 0) is DESCENDING in Spark
    # ([1, 0], step -1) while generate_series(1, 0) is empty in DuckDB —
    # an under-REP_CHUNK doc must chunk to [] in both engines.
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(1), n_chunks)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(arr, (i - 1) * REP_CHUNK + 1, REP_CHUNK)),
    )
    per_chunk = (
        d.select("doc_id", F.explode(chunks).alias("chunk"))
        .groupBy("doc_id", "chunk")
        .agg(F.count("*").alias("n"))
    )
    return per_chunk.groupBy("doc_id").agg(
        F.sum("n").cast("int").alias("n_chunks"),
        F.count("*").cast("int").alias("n_distinct"),
        F.round(1 - F.count("*") / F.sum("n"), 4).alias("dup_ratio"),
        F.max("n").cast("int").alias("max_repeat"),
    )


SQL_TEXT_REPETITION = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS arr,
         CAST(floor(len(string_split(text, ' ')) / {REP_CHUNK}) AS INTEGER) AS nc
  FROM documents
),
ch AS (
  SELECT doc_id,
         array_to_string(arr[(i - 1) * {REP_CHUNK} + 1 : (i - 1) * {REP_CHUNK} + {REP_CHUNK}], ' ') AS chunk
  FROM t, unnest(generate_series(1, nc)) AS u(i)
),
pc AS (SELECT doc_id, chunk, count(*) AS n FROM ch GROUP BY doc_id, chunk)
SELECT doc_id,
       CAST(sum(n) AS INTEGER) AS n_chunks,
       CAST(count(*) AS INTEGER) AS n_distinct,
       round(1 - count(*) / sum(n), 4) AS dup_ratio,
       CAST(max(n) AS INTEGER) AS max_repeat
FROM pc GROUP BY doc_id"""


_URL_RE = r"(?i:https?)://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._~/%-]*)?(?:\?[A-Za-z0-9=&_-]*)?"


def q_text_urls(spark, sf_dir):
    """URL extraction + normalization (corpus provenance / URL-level
    dedup prep): deterministic injected URLs (the corpus text has
    none), regexp_extract_all with a Java/RE2-identical pattern, then
    normalize — lowercase scheme+host, strip the query string — and
    count per normalized URL.  The Spark and SQL sides share the
    injection, extraction, and normalization expressions exactly."""
    # width pin (r7): the URL regex scan over full document text
    # otherwise runs at the 1-2-split scan width
    d = load(spark, sf_dir, "documents").repartition(
        pin_width(spark), F.col("doc_id")
    )
    aug = d.withColumn(
        "aug_text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" see HTTPS://Docs.Example.COM/guide/p"),
                    (F.col("doc_id") % 50).cast("string"),
                    F.lit("?utm_source=x&ref=y"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" at http://cdn"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.net/a_b/c.html"),
                ),
            )
            .otherwise(F.lit(" no link here")),
        ),
    )
    urls = aug.select(
        "doc_id", F.explode(F.regexp_extract_all("aug_text", F.lit(_URL_RE), 0)).alias("url")
    )
    norm = urls.select(
        F.concat(
            F.lower(F.regexp_extract("url", r"^((?i:https?)://[A-Za-z0-9.-]+)", 1)),
            F.regexp_extract("url", r"^(?i:https?)://[A-Za-z0-9.-]+([^?]*)", 1),
        ).alias("url_norm")
    )
    return (
        norm.groupBy("url_norm")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


SQL_TEXT_URLS = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN ' see HTTPS://Docs.Example.COM/guide/p' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=x&ref=y'
           WHEN 1 THEN ' at http://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/a_b/c.html'
           ELSE ' no link here'
         END AS aug_text
  FROM documents
),
u AS (
  SELECT doc_id, unnest(regexp_extract_all(aug_text, '{_URL_RE}')) AS url FROM aug
),
n AS (
  SELECT lower(regexp_extract(url, '^((?i:https?)://[A-Za-z0-9.-]+)', 1))
         || regexp_extract(url, '^(?i:https?)://[A-Za-z0-9.-]+([^?]*)', 1) AS url_norm
  FROM u
)
SELECT url_norm, CAST(count(*) AS BIGINT) AS n_docs FROM n GROUP BY url_norm"""


def q_text_langid(spark, sf_dir):
    """Stopword-vote language id (deterministic heuristic; documents'
    synthetic text is English-ish so 'en' dominates — the point is the
    operator plumbing, verified exactly against SQL)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en = F.size(F.filter(toks, lambda w: w.isin("the", "a", "of")))
    pred = F.when(en > 0, "en").otherwise("und")
    return d.select(
        "doc_id", pred.alias("pred_lang"), (pred == F.col("lang")).alias("agrees_meta")
    )


SQL_TEXT_LANGID = """
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'a', 'of'))) AS en_hits
  FROM documents
)
SELECT doc_id, CASE WHEN en_hits > 0 THEN 'en' ELSE 'und' END AS pred_lang,
       (CASE WHEN en_hits > 0 THEN 'en' ELSE 'und' END) = lang AS agrees_meta
FROM d"""


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprint: lexicographic-min seeded md5 over word
    3-gram shingles (a 1-row MinHash sketch — rolling-hash flavored,
    portable)."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    # the raw shingle stream: min over seeded hashes is
    # duplicate-insensitive (r7, guide 2.3)
    sh = hashing.word_shingles(d, ["doc_id"], "text", n=3)
    return sh.groupBy("doc_id").agg(
        F.min(hashing.seeded_md5(F.col("shingle"), 99)).alias("fingerprint")
    )


SQL_TEXT_FINGERPRINT = """
WITH tok AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, w || ' ' || w1 || ' ' || w2 AS shingle
  FROM (SELECT doc_id, w, pos,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok)
  WHERE w2 IS NOT NULL
)
SELECT doc_id, min(md5('99|' || shingle)) AS fingerprint FROM sh GROUP BY doc_id"""


# ------------------------------------------------------------- multimodal

def q_mm_meta(spark, sf_dir):
    """Multimodal plumbing: text bytes as an opaque binary payload with
    typed metadata (real decode is stubbed — see operators/multimodal)."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("modality"),
    )


SQL_MM_META = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality
FROM documents"""


MM_FRAMES = 4


def q_mm_frame_sample(spark, sf_dir):
    """Multimodal frame-sampling plumbing: given per-payload duration
    metadata (deterministically derived — no codecs in the container),
    emit the evenly-spaced frame-sample offsets a decode stage would
    seek to: offset_ms[i] = floor(i * duration_ms / K).  The decode
    itself stays the documented stub (operators/multimodal.py); the
    partition-preserving explode shape is what runs at scale."""
    d = load(spark, sf_dir, "documents")
    duration_ms = (F.col("doc_id") % 97 + 3) * 1000
    return d.select(
        "doc_id",
        duration_ms.cast("bigint").alias("duration_ms"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MM_FRAMES - 1)),
                lambda i: F.floor(i * duration_ms / MM_FRAMES).cast("bigint"),
            )
        ).alias("frame_idx", "offset_ms"),
    )


SQL_MM_FRAME_SAMPLE = f"""
WITH d AS (SELECT doc_id, (doc_id % 97 + 3) * 1000 AS duration_ms FROM documents),
f AS (SELECT doc_id, duration_ms, unnest(generate_series(0, {MM_FRAMES - 1})) AS frame_idx FROM d)
SELECT doc_id, CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(floor(frame_idx * duration_ms / {MM_FRAMES}) AS BIGINT) AS offset_ms
FROM f"""


def q_mm_resize(spark, sf_dir):
    """The multimodal RESIZE operator under the oracle gate
    (operators/multimodal.resize_assets): documents text bytes as
    opaque binary payloads, stub-decoded to deterministic source dims
    (md5 digest bytes), aspect-preserving scale to max_side=32, and a
    byte-stride 'resample' whose md5 pins the resized payload
    bit-for-bit.  The mapInPandas plumbing (schema, Arrow batches,
    column pruning) is the real 100-TB shape; only the codec call is
    the documented stub.  The oracle reproduces digest-byte dims, the
    float scale chain (same IEEE op sequence), and the stride slice in
    SQL — documents text is pure ASCII at every sf, so char positions
    == byte positions."""
    from arabicner_spark.operators.multimodal import resize_assets

    d = load(spark, sf_dir, "documents")
    assets = d.select(
        F.concat(F.lit("a"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return resize_assets(assets, max_side=32)


SQL_MM_RESIZE = """
WITH a AS (
  SELECT 'a' || CAST(doc_id AS VARCHAR) AS asset_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
         text, md5(text) AS h, length(text) AS n
  FROM documents),
dims AS (
  SELECT *, CAST(16 + CAST(('0x' || substr(h, 1, 2)) AS INTEGER) % 64 AS INTEGER) AS w,
            CAST(16 + CAST(('0x' || substr(h, 3, 2)) AS INTEGER) % 64 AS INTEGER) AS ht
  FROM a),
scaled AS (
  SELECT *, CAST(greatest(1, floor(w * least(1.0, 32.0 / greatest(w, ht)))) AS INTEGER) AS dw,
            CAST(greatest(1, floor(ht * least(1.0, 32.0 / greatest(w, ht)))) AS INTEGER) AS dh
  FROM dims),
strided AS (
  SELECT *, CASE WHEN n = 0 THEN 1 ELSE greatest(1, n // greatest(dw * dh, 1)) END AS stride
  FROM scaled)
SELECT asset_id, modality, w AS src_width, ht AS src_height,
       dw AS dst_width, dh AS dst_height,
       md5(coalesce((SELECT string_agg(substr(s.text, CAST(u.p AS INTEGER), 1), '' ORDER BY u.p)
                     FROM unnest(generate_series(1, s.n, s.stride)) AS u(p)), '')) AS resized_md5
FROM strided s"""


# ------------------------------------------------- relational/star-schema

def q_rel_lineitem_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("double")), 2).alias("sum_price"),
        F.round(F.avg(F.col("l_discount").cast("double")), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_REL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
       round(sum(CAST(l_extendedprice AS DOUBLE)), 2) AS sum_price,
       round(avg(CAST(l_discount AS DOUBLE)), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


def q_rel_top_customers(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("double")), 2).alias("revenue")
    )
    j = rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
    return _global_topk(
        j.select("c_custkey", "c_name", "revenue"),
        [F.col("revenue").desc(), F.col("c_custkey").asc()],
        10,
    )


SQL_REL_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey, round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, revenue, CAST(rank AS INTEGER) AS rank FROM (
  SELECT c.c_custkey, c.c_name, rev.revenue,
         row_number() OVER (ORDER BY rev.revenue DESC, c.c_custkey ASC) AS rank
  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
) WHERE rank <= 10"""


def q_rel_region_rollup(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("double")), 2).alias("sum_acctbal"),
        )
    )


SQL_REL_REGION_ROLLUP = """
SELECT r.r_name, n.n_name, count(*) AS n_customers,
       round(sum(CAST(c_acctbal AS DOUBLE)), 2) AS sum_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name"""


def q_rel_event_sessions(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    g = ev.withColumn("prev", F.lag(F.unix_timestamp("ts")).over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev").isNull() | (F.unix_timestamp("ts") - F.col("prev") > 1800), 1
        ).otherwise(0),
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.round(F.sum(F.col("value").cast("double")), 2).alias("sum_value"),
    )


SQL_REL_EVENT_SESSIONS = """
WITH g AS (
  SELECT user_id, value,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
  FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       round(sum(CAST(value AS DOUBLE)), 2) AS sum_value
FROM g GROUP BY user_id"""


# ------------------------------------------- corpus-pipeline decisions


def q_dedup_survivors(spark, sf_dir):
    """End-to-end dedup DECISION: exact-dup edges (same md5 text) UNION
    near-dup LSH candidate pairs -> connected components -> keep ONE
    deterministic survivor per cluster: the LEXICOGRAPHIC minimum of
    the stringified doc_id (ids flow through CC as strings, so cluster
    {9, 10} keeps doc 10 — '10' < '9'; any total order works for
    dedup, this one needs no cast).  This is the operator a 100 TB
    corpus run actually executes — per-document keep/drop, not just
    pair lists.  Never all-pairs: exact edges are member->group-min
    (one groupBy), near-dup edges come from banded MinHash-LSH."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    # the shared chain: exact groups give both the star edges AND the
    # LSH input (reps only — see incremental.exact_groups for why this
    # is output-identical)
    return (
        dedup_decision(d)
        .select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("keep").cast("bigint").alias("keep_doc"),
        )
        .withColumn("is_survivor", F.col("doc_id") == F.col("keep_doc"))
    )


SQL_DEDUP_SURVIVORS = f"""WITH RECURSIVE
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
{_sql_minhash_cte('docsrc')},
exact AS (
  SELECT min(id) AS a, unnest(list(id)) AS b FROM docsrc GROUP BY md5(text)
),
alledges AS (
  SELECT a, b FROM exact WHERE a != b
  UNION SELECT a, b FROM pairs
),
sym AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
reach(node, r) AS (
  SELECT id, id FROM docsrc
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS keep_doc,
       CAST(node AS BIGINT) = CAST(component AS BIGINT) AS is_survivor
FROM comp"""


SAMPLE_SEED = 7
SAMPLE_HEX_CUT = "33333333"  # ~20% of the md5 space


def q_corpus_pipeline(spark, sf_dir):
    """The ENTIRE training-data pipeline end-to-end under one oracle
    (plans/corpus.run_corpus_pipeline): scrub -> subword scoring with a
    quality floor -> dedup survivors -> weighted priority sample ->
    hash split -> sequence packing of the train split, every stage
    checkpointed/resumable through StageRunner exactly like the KG
    dataflow.  The oracle chains the already-proven SQL mirrors of all
    six stages into one statement, so the value hash pins the WHOLE
    composition — stage boundaries, parquet round-trips, resume
    machinery included — not just each operator in isolation."""
    from arabicner_spark.plans.corpus import CorpusConfig, run_corpus_pipeline

    d = load(spark, sf_dir, "documents")
    cfg = CorpusConfig(sample_k=200, chunk=512, min_tokens=3)
    with _temp_dirs("corpus") as (root,):
        out = run_corpus_pipeline(spark, d, cfg, root, run_id="gate")
        return out["packed"].localCheckpoint(eager=True)


def _sql_corpus_pipeline() -> str:
    from arabicner_spark.functions.pii import sql_scrub_exprs

    scrub = sql_scrub_exprs("text")["scrubbed"]
    frac = f"((CAST(('0x' || substr(md5('{SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)::DOUBLE + 1) / {float(16 ** 15)})"
    return f"""WITH RECURSIVE
scr AS (SELECT doc_id, {scrub} AS scrubbed FROM documents),
tok AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(scrubbed, ' '), 1) AS INTEGER) AS pos,
         greatest(1, (length(unnest(string_split(scrubbed, ' '))) + 3) // 4) AS sl
  FROM scr
),
lens AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
                CAST(sum(sl) AS BIGINT) AS n_subwords
         FROM tok GROUP BY doc_id),
scored AS (SELECT l.doc_id, s.scrubbed, l.n_subwords
           FROM lens l JOIN scr s USING (doc_id) WHERE l.n_tokens >= 3),
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, scrubbed AS text FROM scored),
{_sql_minhash_cte('docsrc')},
exact AS (
  SELECT min(id) AS a, unnest(list(id)) AS b FROM docsrc GROUP BY md5(text)
),
alledges AS (
  SELECT a, b FROM exact WHERE a != b
  UNION SELECT a, b FROM pairs
),
sym AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
reach(node, r) AS (
  SELECT id, id FROM docsrc
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
kept AS (SELECT CAST(node AS BIGINT) AS doc_id FROM comp WHERE node = component),
keptn AS (SELECT k.doc_id, s.n_subwords FROM kept k JOIN scored s USING (doc_id)),
samp AS (
  SELECT doc_id, n_subwords
  FROM (SELECT doc_id, n_subwords,
               CAST(n_subwords AS DOUBLE) / {frac} AS priority
        FROM keptn)
  ORDER BY priority DESC, doc_id ASC LIMIT 200
),
spl AS (
  SELECT doc_id, n_subwords,
         CASE WHEN b < 52428 THEN 'train' WHEN b < 58982 THEN 'dev' ELSE 'test' END AS split
  FROM (SELECT doc_id, n_subwords,
               CAST(('0x' || substr(md5('1|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
        FROM samp)
),
tr AS (SELECT doc_id, n_subwords AS len FROM spl WHERE split = 'train'),
c AS (
  SELECT doc_id, len,
         CAST(sum(len) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len AS BIGINT) AS tok_start
  FROM tr
)
SELECT doc_id, len, tok_start,
       CAST(tok_start // 512 AS BIGINT) AS chunk_start,
       CAST((tok_start + greatest(len - 1, 0)) // 512 AS BIGINT) AS chunk_end,
       CAST(tok_start % 512 AS BIGINT) AS offset_in_chunk
FROM c"""


SQL_CORPUS_PIPELINE = _sql_corpus_pipeline()


def q_compact_roundtrip(spark, sf_dir):
    """Compaction under the oracle gate
    (operators/compact.compact_by_range): the events table is first
    fragmented into many small files (the operational problem), then
    compacted into 4 range-clustered files on (user_id, ts); the gate
    pins (a) LOSSLESSNESS — the compacted rows value-hash against the
    raw table — and (b) the layout, via a file_idx column derived from
    each row's range partition: within the returned rows every file
    holds a contiguous, non-overlapping user_id range (asserted
    separately in tests/test_compaction.py; here the per-row count per
    file crossing the gate keeps the file assignment deterministic
    only where it is — so the gate output drops file_idx and pins the
    row SET, which is the compaction contract)."""
    from arabicner_spark.operators.compact import compact_by_range

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    with _temp_dirs("frag", "compact") as (frag, out):
        ev.repartition(64).write.mode("overwrite").parquet(frag)  # the small-file mess
        small = spark.read.parquet(frag)
        compact_by_range(small, out, ["user_id", "ts_us"], n_files=4)
        return spark.read.parquet(out).localCheckpoint(eager=True)


SQL_COMPACT_ROUNDTRIP = """
SELECT event_id, user_id, event_type,
       epoch_us(ts) AS ts_us,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events"""


def q_split_three_way(spark, sf_dir):
    """Deterministic train/dev/test split (sources/process.split_by_hash
    — the oracle-checkable counterpart of the reference's seeded
    shuffle split, arabiner/bin/process.py:66-84): 80/10/10 md5-bucket
    cut on doc_id, summarized per split as (count, id-set md5) so the
    gate pins the exact MEMBERSHIP of each split, not just its size —
    the invariant a resumable pipeline needs (a re-run must never move
    a document between splits)."""
    from arabicner_spark.sources.process import split_by_hash

    d = split_by_hash(load(spark, sf_dir, "documents"), "doc_id", seed=1)
    ids_sig = F.md5(
        F.concat_ws(",", F.sort_array(F.collect_list(F.col("doc_id").cast("string"))))
    )
    return d.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"), ids_sig.alias("ids_md5")
    )


SQL_SPLIT_THREE_WAY = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN b < 52428 THEN 'train'
              WHEN b < 58982 THEN 'dev'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(('0x' || substr(md5('1|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
        FROM documents)
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR))) AS ids_md5
FROM s GROUP BY split"""


def q_dedup_incremental(spark, sf_dir):
    """INCREMENTAL dedup == full recompute, proven by the gate
    (operators/incremental): documents are split even/odd by doc_id;
    the even half runs the full dedup_state pipeline, then the odd half
    folds in through dedup_incremental — exact-hash join against
    stored text hashes, shingle/minhash of NEW unseen texts only,
    band-join against the STORED band table, old connectivity entering
    as compressed star edges.  The oracle is the unchanged FULL-CORPUS
    survivors SQL, so the value hash literally proves the incremental
    path reproduces the batch answer while skipping all per-document
    work on the old half (the 100-TB operational requirement: a daily
    batch must not re-shingle the corpus)."""
    from arabicner_spark.operators.incremental import dedup_incremental, dedup_state

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text", "doc_id"
    )
    old = d.where(F.col("doc_id") % 2 == 0).select("id", "text")
    new = d.where(F.col("doc_id") % 2 == 1).select("id", "text")
    st2 = dedup_incremental(dedup_state(old), new)
    return st2["decision"].select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("keep").cast("bigint").alias("keep_doc"),
    ).withColumn("is_survivor", F.col("doc_id") == F.col("keep_doc"))


# oracle: the full-corpus batch answer — SQL_DEDUP_SURVIVORS is reused
# verbatim at registration time (incremental must equal it exactly).


PACK_CHUNK = 512


def q_pack_sequences(spark, sf_dir):
    """LLM sequence packing (concat-and-chunk) over the corpus's
    subword lengths (operators/pack.pack_sequences): every document's
    global token offset and chunk span under concatenation in doc_id
    order.  The Spark side runs the SCALABLE two-pass distributed
    prefix sum (range partitions + per-partition cumsum + broadcast
    base offsets — no single-partition Window anywhere); the oracle is
    the serial one-window cumsum, so the value-hash proves the
    distributed decomposition exactly reproduces the serial scan."""
    from arabicner_spark.operators.pack import pack_sequences
    from arabicner_spark.operators.tokencount import subword_counts_expr

    d = load(spark, sf_dir, "documents")
    lens = subword_counts_expr(d, "doc_id", "text").select("doc_id", "n_subwords")
    return pack_sequences(lens, "doc_id", "n_subwords", chunk=PACK_CHUNK)


SQL_PACK_SEQUENCES = f"""
WITH tok AS (
  SELECT doc_id,
         greatest(1, (length(unnest(string_split(text, ' '))) + 3) // 4) AS sl
  FROM documents
),
lens AS (SELECT doc_id, CAST(sum(sl) AS BIGINT) AS len FROM tok GROUP BY doc_id),
c AS (
  SELECT doc_id, len,
         CAST(sum(len) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len AS BIGINT) AS tok_start
  FROM lens
)
SELECT doc_id, len, tok_start,
       CAST(tok_start // {PACK_CHUNK} AS BIGINT) AS chunk_start,
       CAST((tok_start + greatest(len - 1, 0)) // {PACK_CHUNK} AS BIGINT) AS chunk_end,
       CAST(tok_start % {PACK_CHUNK} AS BIGINT) AS offset_in_chunk
FROM c"""


def q_sample_weighted(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (training-data mixing by
    quality weight) via priority sampling
    (functions/sampling.weighted_sample): q = w / md5-uniform, top-200.
    One division — IEEE-correctly-rounded, so unlike pow/log-based
    exponential keys the priorities are bit-identical in DuckDB and the
    selected SET value-hashes exactly.  Weight = n_chars (longer docs
    proportionally likelier).  Plans as TakeOrderedAndProject (map-side
    partial top-k)."""
    from arabicner_spark.functions.sampling import weighted_sample

    d = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    return weighted_sample(d, "doc_id", "n_chars", k=200, seed=SAMPLE_SEED).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round("priority", 4).alias("priority"),
    )


SQL_SAMPLE_WEIGHTED = f"""
WITH p AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(n_chars AS DOUBLE) /
         ((CAST(('0x' || substr(md5('{SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)::DOUBLE + 1)
          / {float(16 ** 15)}) AS priority
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, round(priority, 4) AS priority
FROM p ORDER BY priority DESC, doc_id ASC LIMIT 200"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic hash sampling (~20%) reported per language
    stratum: sampled iff the first 8 hex chars of md5(seed|doc_id)
    fall below the cut.  Hash-based, so the sample is stable across
    runs/partitionings/engines — the property that matters when a
    100 TB pipeline must re-materialize the same sample after resume."""
    d = load(spark, sf_dir, "documents")
    picked = (
        F.substring(hashing.seeded_md5(F.col("doc_id").cast("string"), SAMPLE_SEED), 1, 8)
        < SAMPLE_HEX_CUT
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(picked.cast("int")).cast("bigint").alias("n_sampled"),
        F.round(F.sum(picked.cast("int")) / F.count("*"), 4).alias("rate"),
    )


SQL_SAMPLE_STRATIFIED = f"""
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN substr(md5('{SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8)
                          < '{SAMPLE_HEX_CUT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(sum(CASE WHEN substr(md5('{SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8)
                           < '{SAMPLE_HEX_CUT}' THEN 1 ELSE 0 END) / count(*), 4) AS rate
FROM documents GROUP BY lang"""


def _pii_augmented(d):
    """documents + deterministically-injected PII (the corpus text has
    none naturally, and an unexercised scrubber is an untested one):
    doc_id mod 4 appends an email / a separator-laden phone / an IPv4 /
    nothing.  The same expression is mirrored in SQL so both engines
    scrub identical input."""
    return d.withColumn(
        "aug_text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
            )
            .when(
                F.col("doc_id") % 4 == 1,
                F.concat(F.lit(" call +1-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            )
            .when(
                F.col("doc_id") % 4 == 2,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                ),
            )
            .otherwise(
                F.concat(F.lit(" order "), (F.col("doc_id") * 13).cast("string"), F.lit(" confirmed"))
            ),
        ),
    )


_SQL_PII_AUG = """aug AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           WHEN 1 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
           ELSE ' order ' || CAST(doc_id * 13 AS VARCHAR) || ' confirmed'
         END AS aug_text
  FROM documents)"""


def q_text_pii_scrub(spark, sf_dir):
    """Multi-class PII scrubbing (functions/pii.scrub_pii): email ->
    IPv4 -> phone -> digit-run, applied in priority order so classes
    never double-count, with per-class redaction counts + md5 of the
    fully scrubbed text (the hash pins the whole payload without
    shipping it).  Input is documents text + deterministically injected
    PII (see _pii_augmented) so every class is actually exercised."""
    from arabicner_spark.functions.pii import scrub_pii

    d = _pii_augmented(load(spark, sf_dir, "documents"))
    s = scrub_pii(d, "aug_text")
    return s.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_phone",
        "n_num",
        hashing.md5_utf8(F.col("scrubbed")).alias("scrubbed_md5"),
    )


def _sql_pii_scrub() -> str:
    from arabicner_spark.functions.pii import sql_scrub_exprs

    e = sql_scrub_exprs("aug_text")
    return f"""
WITH {_SQL_PII_AUG}
SELECT doc_id,
       {e['n_email']} AS n_email,
       {e['n_ip']} AS n_ip,
       {e['n_phone']} AS n_phone,
       {e['n_num']} AS n_num,
       md5({e['scrubbed']}) AS scrubbed_md5
FROM aug"""


SQL_TEXT_PII_SCRUB = _sql_pii_scrub()


def q_text_bigrams(spark, sf_dir):
    """Corpus bigram counts, top-30 (LM-style n-gram statistics):
    pure array expressions to the single count shuffle, global top-k
    via rank-limit window."""
    d = load(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(arr, (i + 1).cast("int")),
                F.element_at(arr, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    return _global_topk(counts, [F.col("n").desc(), F.col("bigram").asc()], 30)


SQL_TEXT_BIGRAMS = """
WITH tok AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
bg AS (
  SELECT w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
  FROM tok QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
),
c AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
SELECT bigram, n, CAST(rank AS INTEGER) AS rank FROM (
  SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC) AS rank FROM c
) WHERE rank <= 30"""


CONTAM_PROBES = ["hash join", "merge sort", "table scan"]


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: documents containing any probe
    n-gram, with hit counts per probe.  The probe set is tiny and
    broadcast; candidate n-grams come from the same zero-shuffle array
    expressions as the mention scan, so the plan is scan -> codegen
    explode -> broadcast semi-ish join -> one count aggregate."""
    d = load(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(arr, (i + 1).cast("int")),
                F.element_at(arr, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    probes = local_table(spark, [(p,) for p in CONTAM_PROBES], "probe string")
    hits = (
        d.select("doc_id", F.explode(bigrams).alias("ng"))
        .join(F.broadcast(probes), F.col("ng") == F.col("probe"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.sort_array(F.collect_set("probe")).alias("probes_hit"),
        )
    )
    return hits.select(
        "doc_id", "n_hits", F.array_join("probes_hit", ",").alias("probes_hit")
    )


_SQL_PROBES = ", ".join(f"('{p}')" for p in CONTAM_PROBES)

SQL_CONTAMINATION = f"""
WITH probes(probe) AS (VALUES {_SQL_PROBES}),
tok AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
bg AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS ng
  FROM tok QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
)
SELECT bg.doc_id, count(*) AS n_hits,
       list_aggregate(list_sort(list(DISTINCT probe)), 'string_agg', ',') AS probes_hit
FROM bg JOIN probes ON bg.ng = probes.probe
GROUP BY bg.doc_id"""


KEEP_MIN_TOKENS = 5
KEEP_MAX_TOKENS = 10_000
KEEP_MIN_QUALITY = 0.5


def q_corpus_keep_decision(spark, sf_dir):
    """The END-TO-END corpus filter funnel — the row every document gets
    in a real training-data run: language gate, token-count gate,
    quality gate, dedup-survivor gate, composed into one keep/drop with
    a reason string (first failing gate wins, 'ok' if kept).  Composes
    the gated operators (text_langid / text_quality / dedup_survivors)
    rather than re-deriving them."""
    lang_ok = F.col("pred_lang") == "en"
    q = q_text_quality(spark, sf_dir).select("doc_id", "n_tokens", "quality_score")
    lang = q_text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    surv = q_dedup_survivors(spark, sf_dir).select("doc_id", "is_survivor")
    j = q.join(lang, "doc_id").join(surv, "doc_id")
    reason = (
        F.when(~lang_ok, "lang")
        .when(
            (F.col("n_tokens") < KEEP_MIN_TOKENS)
            | (F.col("n_tokens") > KEEP_MAX_TOKENS),
            "length",
        )
        .when(F.col("quality_score") < KEEP_MIN_QUALITY, "quality")
        .when(~F.col("is_survivor"), "duplicate")
        .otherwise("ok")
    )
    return j.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


SQL_CORPUS_KEEP = f"""WITH RECURSIVE
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents),
{_sql_minhash_cte('docsrc')},
exact AS (
  SELECT min(id) AS a, unnest(list(id)) AS b FROM docsrc GROUP BY md5(text)
),
alledges AS (
  SELECT a, b FROM exact WHERE a != b
  UNION SELECT a, b FROM pairs
),
sym AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
reach(node, r) AS (
  SELECT id, id FROM docsrc
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         round(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
               + 0.5 * (1 - len(list_filter(string_split(text, ' '),
                     w -> list_contains({_STOPWORDS}, w))) / len(string_split(text, ' '))), 4)
           AS quality_score,
         CASE WHEN len(list_filter(string_split(text, ' '),
                    w -> w IN ('the', 'a', 'of'))) > 0 THEN 'en' ELSE 'und' END AS pred_lang
  FROM documents
),
dec AS (
  SELECT f.doc_id,
         CASE WHEN f.pred_lang != 'en' THEN 'lang'
              WHEN f.n_tokens < {KEEP_MIN_TOKENS} OR f.n_tokens > {KEEP_MAX_TOKENS} THEN 'length'
              WHEN f.quality_score < {KEEP_MIN_QUALITY} THEN 'quality'
              WHEN CAST(c.node AS BIGINT) != CAST(c.component AS BIGINT) THEN 'duplicate'
              ELSE 'ok' END AS reason
  FROM feats f JOIN comp c ON CAST(c.node AS BIGINT) = f.doc_id
)
SELECT doc_id, reason, reason = 'ok' AS keep FROM dec"""


def q_conll_roundtrip(spark, sf_dir):
    """Operator #1 (CoNLL scan, arabiner/utils/data.py:28-49) oracle-
    gated: a deterministic CoNLL file is synthesized from ``documents``
    (one segment per doc, one token line per word, even-length tokens
    carrying a second label to exercise the multi-label split), then
    parsed back by the REAL distributed reader
    (sources/conll_spark.read_conll — two-phase prefix-sum segment ids)
    and compared against the direct SQL derivation.

    The collect below is FIXTURE SYNTHESIS (bounded: the documents
    table), not part of the operator under test; the parse itself is
    fully distributed."""
    from arabicner_spark.sources.conll_spark import read_conll

    rows = (
        load(spark, sf_dir, "documents").select("doc_id", "text").orderBy("doc_id").collect()
    )
    lines = []
    for r in rows:
        for w in r.text.split(" "):
            lines.append(f"{w} O MISC" if len(w) % 2 == 0 else f"{w} O")
        lines.append("")
    with _temp_dirs("conll_rt") as (tmpd,):
        path = os.path.join(tmpd, "docs.conll")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return read_conll(spark, path).select(
            F.col("seg_id").cast("bigint").alias("seg_id"),
            "pos",
            "token",
            F.array_join("tags", "|").alias("tags"),
        ).localCheckpoint(eager=True)


SQL_CONLL_ROUNDTRIP = """
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
segmap AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS seg_id
  FROM (SELECT DISTINCT doc_id FROM documents)
)
SELECT s.seg_id, t.pos, t.w AS token,
       CASE WHEN len(t.w) % 2 = 0 THEN 'O|MISC' ELSE 'O' END AS tags
FROM tok t JOIN segmap s USING (doc_id)"""


def q_tsv_process(spark, sf_dir):
    """Operators #2/#3 (Wojood TSV scan + row filters + segment-boundary
    detection, arabiner/bin/process.py:24-46) oracle-gated: a
    deterministic TSV is synthesized from ``documents`` (one sentence
    per doc; per doc three JUNK rows exercising each reference filter —
    multi-word token, invalid label, empty token), parsed by the REAL
    sources/process.py pipeline (read_wojood_tsv -> clean_rows ->
    to_segments), and compared against the direct SQL derivation (which
    contains only the surviving rows — the filters must drop exactly
    the junk).

    The collect is fixture synthesis (bounded), not the operator."""
    from arabicner_spark.sources.process import clean_rows, read_wojood_tsv, to_segments

    rows = (
        load(spark, sf_dir, "documents").select("doc_id", "text").orderBy("doc_id").collect()
    )
    lines = ["idx\tsent_id\textra\ttoken\tlabels"]
    for r in rows:
        for w in r.text.split(" "):
            lab = "B-MISC O" if len(w) % 2 == 0 else "O"
            lines.append(f"0\t{r.doc_id}\tx\t{w}\t{lab}")
        lines.append(f"0\t{r.doc_id}\tx\tbad token\tO")  # multi-word -> drop
        lines.append(f"0\t{r.doc_id}\tx\tjunk\tBAD")  # label w/o '-' -> drop
        lines.append(f"0\t{r.doc_id}\tx\t\tO")  # empty token -> drop
    with _temp_dirs("tsv") as (tmpd,):
        path = os.path.join(tmpd, "export.tsv")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        seg = to_segments(clean_rows(read_wojood_tsv(spark, path)))
        return seg.select(
            F.col("seg_id").cast("bigint").alias("seg_id"),
            F.posexplode("tokens").alias("pos", "t"),
        ).select(
            "seg_id",
            "pos",
            F.col("t.token").alias("token"),
            F.array_join("t.labels", "|").alias("labels"),
        ).localCheckpoint(eager=True)


SQL_TSV_PROCESS = """
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
segmap AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS seg_id
  FROM (SELECT DISTINCT doc_id FROM documents)
)
SELECT s.seg_id, t.pos, t.w AS token,
       CASE WHEN len(t.w) % 2 = 0 THEN 'B-MISC|O' ELSE 'O' END AS labels
FROM tok t JOIN segmap s USING (doc_id)"""


def q_rel_asof_click(spark, sf_dir):
    """As-of join (operators/asof.py — the union + running-window
    composition): every 'error' event attached to the same user's
    LATEST preceding-or-simultaneous 'click'.  Clicks are deduped to
    one row per (user_id, ts) first so the tied-timestamp payload is
    engine-deterministic.  Oracle = DuckDB's native ASOF LEFT JOIN —
    the operator's semantics are pinned against a first-class
    implementation, not a reimplementation."""
    from arabicner_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id",
            "ts",
            # events.ts reads as TIMESTAMP_NTZ; session TZ is UTC, so the
            # cast interprets the same wall instant DuckDB's epoch_us does
            F.unix_micros(F.col("ts").cast("timestamp")).alias("click_ts_us"),
            "click_value",
        )
    )
    out = asof_join(
        errors, clicks, keys=["user_id"], left_ts="err_ts", right_ts="ts",
        value_cols=["click_ts_us", "click_value"],
    )
    # no-predecessor rows carry NULL payloads (left-join semantics);
    # sentinel-fill for the driver's order-insensitive row sort, which
    # cannot compare None against numbers
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("err_ts").cast("timestamp")).alias("err_ts_us"),
        F.coalesce("click_ts_us", F.lit(-1)).alias("click_ts_us"),
        F.round(F.coalesce("click_value", F.lit(-1.0)), 4).alias("click_value"),
    )


SQL_REL_ASOF_CLICK = """
WITH err AS (
  SELECT event_id, user_id, ts AS err_ts FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id,
       CAST(epoch_us(e.err_ts) AS BIGINT) AS err_ts_us,
       coalesce(CAST(epoch_us(c.ts) AS BIGINT), -1) AS click_ts_us,
       round(coalesce(c.click_value, -1.0), 4) AS click_value
FROM err e ASOF LEFT JOIN clk c
  ON e.user_id = c.user_id AND e.err_ts >= c.ts"""


def q_rel_cube(spark, sf_dir):
    """Grouping-sets coverage: revenue CUBE over (region, order
    priority) — two broadcast dimension joins then one multi-grouping
    aggregate (Spark plans Expand + single hash agg; map-side partial
    per grouping set).  Rollup rows are 'ALL'-filled so the comparator
    never sorts NULLs."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.cube("r_name", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "revenue",
            "n_orders",
        )
    )


SQL_REL_CUBE = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(o_orderpriority, 'ALL') AS priority,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, o_orderpriority)"""


RANGE_N_WINDOWS = 40
RANGE_STEP_S = 37 * 60  # window i starts at t0 + i*37min
RANGE_LEN_S = 90 * 60  # ... and lasts 90min (windows overlap)
RANGE_T0 = 1704067200  # 2024-01-01T00:00:00Z — the events epoch


def q_rel_range_windows(spark, sf_dir):
    """Range join (operators/ranges.py — bucketed interval containment,
    no BroadcastNestedLoopJoin): 40 overlapping 90-minute analysis
    windows, each event attached to EVERY window containing its
    timestamp (start <= ts < end), rolled up to per-window counts and
    value sums.  Bucket width = 1h ≈ the interval length, so each
    interval replicates to ≤ 3 buckets and the join is an equi-join on
    the bucket id."""
    from arabicner_spark.operators.ranges import range_join

    # microsecond precision on BOTH engines: unix_timestamp truncates
    # sub-second parts while DuckDB's double->bigint cast rounds, so a
    # seconds-based boundary would disagree on x.5+ events
    us = F.lit(1_000_000)
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "value"
    )
    win = spark.range(RANGE_N_WINDOWS).select(
        F.col("id").alias("window_id"),
        ((F.lit(RANGE_T0) + F.col("id") * RANGE_STEP_S) * us).alias("w_start"),
        ((F.lit(RANGE_T0) + F.col("id") * RANGE_STEP_S + RANGE_LEN_S) * us).alias("w_end"),
    )
    joined = range_join(ev, "ts_us", win, "w_start", "w_end", bucket_width=3600 * 1_000_000)
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


SQL_REL_RANGE_WINDOWS = f"""
WITH win AS (
  SELECT i AS window_id,
         ({RANGE_T0} + i * {RANGE_STEP_S}) * 1000000 AS w_start,
         ({RANGE_T0} + i * {RANGE_STEP_S} + {RANGE_LEN_S}) * 1000000 AS w_end
  FROM (SELECT unnest(generate_series(0, {RANGE_N_WINDOWS - 1})) AS i)
),
ev AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us, value FROM events)
SELECT window_id, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM ev JOIN win ON win.w_start <= ev.ts_us AND ev.ts_us < win.w_end
GROUP BY window_id"""


def q_rel_hypertable_daily(spark, sf_dir):
    """Hypertable rollup (operators/hypertable.py): events -> HOURLY
    mergeable partials (count/sum/min/max) -> DAILY view by merging the
    partials, never rescanning raw rows.  The oracle aggregates the raw
    table directly per day — composition equality is exactly what makes
    the continuous-aggregate pattern sound (algebraic merge states)."""
    from arabicner_spark.operators.hypertable import reaggregate, rollup_partials

    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    daily = reaggregate(rollup_partials(ev, "ts", "value", bucket="hour"), bucket="day")
    return daily.select(
        F.unix_timestamp("bucket_start").alias("day_epoch"),
        F.col("n").cast("bigint").alias("n"),
        F.round("total", 4).alias("total"),
        F.round("mn", 4).alias("mn"),
        F.round("mx", 4).alias("mx"),
        # derive avg from the ROUNDED total: the raw two-stage partial
        # sum and DuckDB's single-pass sum differ in the last ulps, and
        # an avg sitting exactly on a 1e-4 rounding boundary would flip
        F.round(F.round("total", 4) / F.col("n"), 4).alias("avg_value"),
    )


SQL_REL_HYPERTABLE_DAILY = """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS total,
       round(min(value), 4) AS mn,
       round(max(value), 4) AS mx,
       round(round(sum(value), 4) / count(*), 4) AS avg_value
FROM events GROUP BY 1"""


KMV_K = 64


def q_sketch_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (functions/sketches.py) over
    lineitem.l_orderkey, with the exact count alongside: unlike
    HLL/theta (engine-specific registers), the k-minimum-values state
    is a pure md5 order statistic, so the ESTIMATE itself value-hashes
    against DuckDB — a sketch whose cross-engine correctness is gated
    bit-for-bit, not "within rsd"."""
    from arabicner_spark.functions.sketches import kmv_distinct

    li = load(spark, sf_dir, "lineitem")
    sk = kmv_distinct(li, "l_orderkey", k=KMV_K)
    exact = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("exact_n"))
    return sk.crossJoin(exact).select(
        "k",
        "n_kept",
        "kth_hash",
        "estimate",
        "exact_n",
        F.round(F.abs(F.col("estimate") - F.col("exact_n")) / F.col("exact_n"), 4).alias(
            "rel_err"
        ),
    )


SQL_SKETCH_KMV = f"""
WITH h AS (
  SELECT DISTINCT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
),
topk AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
kth AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash FROM topk),
ex AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_n FROM lineitem),
est AS (
  SELECT {KMV_K} AS k, n_kept, kth_hash,
         CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE round(({KMV_K} - 1) /
                   ((CAST(('0x' || substr(kth_hash, 1, 15)) AS UBIGINT)::DOUBLE + 1)
                    / {float(16 ** 15)}), 4) END AS estimate
  FROM kth
)
SELECT k, n_kept, kth_hash, estimate, exact_n,
       round(abs(estimate - exact_n) / exact_n, 4) AS rel_err
FROM est, ex"""


def q_rel_customers_no_orders(spark, sf_dir):
    """Anti-join coverage: customers with no PENDING ('P') order
    (left_anti — plans as a broadcast/shuffled hash anti join, the NOT
    EXISTS shape; the status filter pushes into the probe-side scan and
    keeps the result non-empty so the gate exercises real rows)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P").select(
        "o_custkey"
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")


SQL_REL_NO_ORDERS = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')"""


def q_rel_value_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per event type (Spark `percentile`
    == DuckDB `quantile_cont`, both linear interpolation on the sorted
    values — exact, unlike t-digest/KLL approximations which could
    never value-hash across engines)."""
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    return q.select(
        "event_type",
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
        F.round("p99", 4).alias("p99"),
    )


SQL_REL_QUANTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type"""


# ------------------------------------------------------ vocab / eval family

# pred-side gazetteer for the evaluation queries: "scan" dropped (recall
# loss on KEYW... no—KEYW keeps join/sort/filter; scan's hits become
# misses) and "vector" re-typed OBJ->KEYW (false positives on KEYW,
# false negatives on OBJ) — exercises P<1 AND R<1 per type.
GAZ_PRED = [r for r in GAZ if r[0] not in ("scan", "vector")] + [
    ("vector", "KEYW", 1)
]


def q_vocab_tokens(spark, sf_dir):
    """Operator #5 (first-appearance vocab, arabiner/utils/data.py:12-25,
    66-78) over the documents token stream: id = rank of the token's
    first global position — the REAL operators/vocab.py operator."""
    from arabicner_spark.operators.vocab import first_appearance_vocab

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    items = toks.select(
        F.col("w").alias("token"),
        (F.col("doc_id") * F.lit(1_000_000) + F.col("pos")).alias("gpos"),
    )
    v = first_appearance_vocab(items, "token", "gpos")
    return v.select(
        F.col("item").alias("token"),
        F.col("id").cast("int").alias("id"),
        F.col("count").cast("bigint").alias("n"),
    )


SQL_VOCAB_TOKENS = """
WITH tok AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) - 1 AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
agg AS (
  SELECT w AS token, min(doc_id * 1000000 + pos) AS first_pos, count(*) AS n
  FROM tok GROUP BY w
)
SELECT token, CAST(row_number() OVER (ORDER BY first_pos) - 1 AS INTEGER) AS id, n
FROM agg"""


def q_vocab_tag_levels(spark, sf_dir):
    """Operator #6 (per-type tag vocab, arabiner/utils/data.py:82-93):
    per level, B-/I- tags in first-appearance corpus order with "O"
    appended last (tag_id = #BI tags)."""
    m = _mentions_ngram(spark, sf_dir)
    conv_num = F.substring("conv_id", 6, 4).cast("int")
    doc_id = F.col("turn_idx") * F.lit(N_CONVS) + conv_num
    b = m.select(
        "level", "type", F.lit("B").alias("k"),
        (doc_id * 4096 + F.col("start_tok")).alias("gpos"),
    )
    i = m.where(F.col("end_tok") - F.col("start_tok") >= 2).select(
        "level", "type", F.lit("I").alias("k"),
        (doc_id * 4096 + F.col("start_tok") + 1).alias("gpos"),
    )
    tags = b.unionByName(i).groupBy("level", "type", "k").agg(
        F.min("gpos").alias("first_pos")
    )
    w = Window.partitionBy("level").orderBy("first_pos", "k")
    bi = tags.select(
        "level", "type",
        F.concat("k", F.lit("-"), "type").alias("tag"),
        (F.row_number().over(w) - 1).cast("int").alias("tag_id"),
    )
    o = tags.groupBy("level", "type").agg(
        F.count("*").cast("int").alias("tag_id")
    ).select("level", "type", F.lit("O").alias("tag"), "tag_id")
    return bi.unionByName(o)


SQL_VOCAB_TAG_LEVELS = f"""WITH {_SQL_T}, {_SQL_MEN},
ev AS (
  SELECT level, type, 'B' AS k,
         (turn_idx * {N_CONVS} + CAST(substr(conv_id, 6, 4) AS INTEGER)) * 4096
           + start_tok AS gpos
  FROM men
  UNION ALL
  SELECT level, type, 'I' AS k,
         (turn_idx * {N_CONVS} + CAST(substr(conv_id, 6, 4) AS INTEGER)) * 4096
           + start_tok + 1 AS gpos
  FROM men WHERE end_tok - start_tok >= 2
),
tags AS (SELECT level, type, k, min(gpos) AS first_pos FROM ev GROUP BY level, type, k),
bi AS (
  SELECT level, type, k || '-' || type AS tag,
         CAST(row_number() OVER (PARTITION BY level ORDER BY first_pos, k) - 1
              AS INTEGER) AS tag_id
  FROM tags
),
o AS (SELECT level, type, 'O' AS tag, CAST(count(*) AS INTEGER) AS tag_id
      FROM tags GROUP BY level, type)
SELECT level, type, tag, tag_id FROM bi
UNION ALL SELECT level, type, tag, tag_id FROM o"""


def _sql_men_for(gaz_rows, gname: str, mname: str) -> str:
    """A second men-style CTE over the shared tok/tok2 CTEs (which come
    from _SQL_MEN) for an alternate gazetteer."""
    vals = ", ".join(
        f"('{p}', '{t}', {TYPES.index(t)}, {n})" for p, t, n in gaz_rows
    )
    return f"""
{gname}(phrase, type, level, len) AS (VALUES {vals}),
{mname} AS (
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 1 AS INTEGER) AS end_tok
  FROM tok2 JOIN {gname} g ON g.len = 1 AND g.phrase = w
  UNION ALL
  SELECT tok2.conv_id, tok2.turn_idx, g.level, g.type,
         pos AS start_tok, CAST(pos + 2 AS INTEGER) AS end_tok
  FROM tok2 JOIN {gname} g ON g.len = 2 AND w2 IS NOT NULL AND g.phrase = w || ' ' || w2
)"""


def q_eval_per_type_prf(spark, sf_dir):
    """Operator #17 (span-set P/R/F1 per type, the seqeval-style report
    as DataFrame joins — operators/metrics.py) gating query: gold =
    full-gazetteer mentions, pred = GAZ_PRED mentions."""
    from arabicner_spark.operators import metrics

    gold = _mentions_ngram(spark, sf_dir)
    pred = _mentions_ngram(spark, sf_dir, gaz_rows=GAZ_PRED)
    rep = metrics.per_type_report(gold, pred)
    return rep.select(
        "type",
        F.col("n_gold").cast("bigint").alias("n_gold"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("tp").cast("bigint").alias("tp"),
        "precision", "recall", "f1",
    )


SQL_EVAL_PER_TYPE_PRF = f"""WITH {_SQL_T}, {_SQL_MEN},
{_sql_men_for(GAZ_PRED, 'gaz2', 'men2')},
g AS (SELECT DISTINCT conv_id, turn_idx, level, type, start_tok, end_tok FROM men),
p AS (SELECT DISTINCT conv_id, turn_idx, level, type, start_tok, end_tok FROM men2),
tpc AS (
  SELECT g.type, count(*) AS tp
  FROM g JOIN p USING (conv_id, turn_idx, level, type, start_tok, end_tok)
  GROUP BY g.type
),
ng AS (SELECT type, count(*) AS n_gold FROM g GROUP BY type),
np AS (SELECT type, count(*) AS n_pred FROM p GROUP BY type),
rep AS (
  SELECT coalesce(ng.type, np.type) AS type,
         coalesce(n_gold, 0) AS n_gold, coalesce(n_pred, 0) AS n_pred
  FROM ng FULL JOIN np ON ng.type = np.type
),
rep2 AS (
  SELECT rep.type, n_gold, n_pred, coalesce(tpc.tp, 0) AS tp
  FROM rep LEFT JOIN tpc ON rep.type = tpc.type
),
rep3 AS (
  SELECT type, CAST(n_gold AS BIGINT) AS n_gold, CAST(n_pred AS BIGINT) AS n_pred,
         CAST(tp AS BIGINT) AS tp,
         CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0 END AS p_,
         CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0 END AS r_
  FROM rep2
)
SELECT type, n_gold, n_pred, tp,
       round(p_, 4) AS "precision", round(r_, 4) AS recall,
       round(CASE WHEN p_ + r_ > 0 THEN 2 * p_ * r_ / (p_ + r_) ELSE 0 END, 4) AS f1
FROM rep3"""


def q_stream_conv_totals(spark, sf_dir):
    """The STREAMING pipeline, oracle-gated: transcripts parquet ->
    readStream -> streaming_mentions (the same make_score_batches loop
    as the batch NER stage) -> streaming_conv_totals (the custom
    stateful applyInPandasWithState counter) -> availableNow-triggered
    memory sink.  The counter is monotone per conversation, so
    max-per-key over the update-mode sink is the final total — which
    must equal the batch mention count per conversation (the DuckDB
    oracle), proving the stateful operator survives micro-batch
    boundaries without losing or double-counting.

    Bounded run: availableNow drains the source and terminates, so the
    driver's collect sees a complete, deterministic result.
    """
    return _drain(
        spark,
        transcripts(spark, sf_dir),
        lambda src: ingest.streaming_conv_totals(
            ingest.streaming_mentions(ingest.stream_transcripts(spark, src), gazetteer_dict_td())
        ),
        lambda rows: rows.groupBy("conv_id").agg(
            F.max("total_mentions").alias("total_mentions")
        ),
        mode="update",
    )


SQL_STREAM_CONV_TOTALS = f"""WITH {_SQL_T}, {_SQL_MEN}
SELECT conv_id, CAST(count(*) AS BIGINT) AS total_mentions
FROM men GROUP BY conv_id"""


def q_stream_mention_rate(spark, sf_dir):
    """The WATERMARKED windowed streaming aggregate, oracle-gated:
    streaming_mentions -> mention_rate (2-minute watermark, 1-minute
    tumbling windows per type) drained with availableNow into an
    update-mode memory sink; per-window counts are monotone, so
    max-per-(window, type) is the final count — which must equal the
    batch per-minute rollup (the DuckDB oracle).

    The source is written as ONE file so the whole drain is a single
    ordered micro-batch: the watermark (which only advances BETWEEN
    batches) can then never drop events, making the streaming result
    exactly the batch result — the property this gate pins."""
    return _drain(
        spark,
        transcripts(spark, sf_dir).coalesce(1),
        lambda src: ingest.mention_rate(
            ingest.streaming_mentions(ingest.stream_transcripts(spark, src), gazetteer_dict_td())
        ),
        lambda rows: rows.groupBy(
            F.unix_timestamp("window_start").alias("window_epoch"), "type"
        ).agg(F.max("n_mentions").cast("bigint").alias("n_mentions")),
        mode="update",
    )


SQL_STREAM_MENTION_RATE = f"""WITH {_SQL_T}, {_SQL_MEN}
SELECT t.ts_epoch - t.ts_epoch % 60 AS window_epoch, men.type,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM men JOIN t USING (conv_id, turn_idx)
GROUP BY 1, 2"""


def q_eval_nested_report(spark, sf_dir):
    """Operator #17's FULL report (micro/macro/weighted P/R/F1 + token
    accuracy, seqeval semantics per arabiner/utils/metrics.py:31-46) as
    one oracle-gated row — the REAL operators/metrics.nested_report_df
    plan, nothing driver-assembled.  gold = full-gazetteer mentions,
    pred = GAZ_PRED mentions, accuracy over #tokens x #levels slots."""
    from arabicner_spark.operators import metrics

    gold = _mentions_ngram(spark, sf_dir)
    pred = _mentions_ngram(spark, sf_dir, gaz_rows=GAZ_PRED)
    tt = transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", F.size(F.split("text", " ")).alias("n_tokens")
    )
    rep = metrics.nested_report_df(gold, pred, tt, n_levels=len(TYPES))
    return rep.select(*[F.round(F.col(c), 4).alias(c) for c in rep.columns])


SQL_EVAL_NESTED_REPORT = f"""WITH {_SQL_T}, {_SQL_MEN},
{_sql_men_for(GAZ_PRED, 'gaz3', 'men3')},
g AS (SELECT DISTINCT conv_id, turn_idx, level, type, start_tok, end_tok FROM men),
p AS (SELECT DISTINCT conv_id, turn_idx, level, type, start_tok, end_tok FROM men3),
tpc AS (
  SELECT g.type, count(*) AS tp
  FROM g JOIN p USING (conv_id, turn_idx, level, type, start_tok, end_tok)
  GROUP BY g.type
),
ng AS (SELECT type, count(*) AS n_gold FROM g GROUP BY type),
np AS (SELECT type, count(*) AS n_pred FROM p GROUP BY type),
per AS (
  SELECT coalesce(ng.type, np.type) AS type,
         coalesce(n_gold, 0) AS n_gold, coalesce(n_pred, 0) AS n_pred
  FROM ng FULL JOIN np ON ng.type = np.type
),
per2 AS (
  SELECT per.type, n_gold, n_pred, coalesce(tpc.tp, 0) AS tp
  FROM per LEFT JOIN tpc ON per.type = tpc.type
),
per3 AS (
  SELECT n_gold, n_pred, tp,
         CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0 END AS p_,
         CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0 END AS r_
  FROM per2
),
per4 AS (
  SELECT *, CASE WHEN p_ + r_ > 0 THEN 2 * p_ * r_ / (p_ + r_) ELSE 0 END AS f_
  FROM per3
),
agg AS (
  SELECT
    CASE WHEN sum(n_pred) > 0 THEN sum(tp) / sum(n_pred) ELSE 0 END AS micro_p,
    CASE WHEN sum(n_gold) > 0 THEN sum(tp) / sum(n_gold) ELSE 0 END AS micro_r,
    avg(p_) AS macro_p, avg(r_) AS macro_r, avg(f_) AS macro_f1,
    CASE WHEN sum(n_gold) > 0 THEN sum(p_ * n_gold) / sum(n_gold) ELSE 0 END AS weighted_p,
    CASE WHEN sum(n_gold) > 0 THEN sum(r_ * n_gold) / sum(n_gold) ELSE 0 END AS weighted_r,
    CASE WHEN sum(n_gold) > 0 THEN sum(f_ * n_gold) / sum(n_gold) ELSE 0 END AS weighted_f1
  FROM per4
),
gtag AS (
  SELECT DISTINCT conv_id, turn_idx, level, start_tok + off AS pos,
         CASE WHEN off = 0 THEN 'B-' || type ELSE 'I-' || type END AS gt
  FROM (SELECT *, unnest(generate_series(0, end_tok - start_tok - 1)) AS off FROM g)
),
ptag AS (
  SELECT DISTINCT conv_id, turn_idx, level, start_tok + off AS pos,
         CASE WHEN off = 0 THEN 'B-' || type ELSE 'I-' || type END AS pt
  FROM (SELECT *, unnest(generate_series(0, end_tok - start_tok - 1)) AS off FROM p)
),
mism AS (
  SELECT count(*) AS mismatches
  FROM gtag FULL JOIN ptag USING (conv_id, turn_idx, level, pos)
  WHERE coalesce(gt, 'O') != coalesce(pt, 'O')
),
tot AS (
  SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE) * {len(TYPES)} AS total_slots
  FROM t
)
SELECT round(agg.micro_p, 4) AS micro_p, round(agg.micro_r, 4) AS micro_r,
       round(CASE WHEN agg.micro_p + agg.micro_r > 0
                  THEN 2 * agg.micro_p * agg.micro_r / (agg.micro_p + agg.micro_r)
                  ELSE 0 END, 4) AS micro_f1,
       round(macro_p, 4) AS macro_p, round(macro_r, 4) AS macro_r,
       round(macro_f1, 4) AS macro_f1,
       round(weighted_p, 4) AS weighted_p, round(weighted_r, 4) AS weighted_r,
       round(weighted_f1, 4) AS weighted_f1,
       round(CASE WHEN total_slots > 0
                  THEN (total_slots - mismatches) / total_slots
                  ELSE 1 END, 4) AS accuracy
FROM agg, mism, tot"""


def q_eval_predictions_lines(spark, sf_dir):
    """Operator #20 (prediction sink format, Token.__str__ rows +
    blank-line segment separators — sources/predictions.py, mirroring
    arabiner/trainers/BaseTrainer.py:71-82) as a gated query: documents
    are the segments, per-level BIO tags from the mention scan."""
    from arabicner_spark.operators import metrics
    from arabicner_spark.sources.predictions import predictions_lines

    t = transcripts(spark, sf_dir)
    m = _mentions_ngram(spark, sf_dir)
    conv_num = F.substring("conv_id", 6, 4).cast("int")
    toks = t.select(
        (F.col("turn_idx") * F.lit(N_CONVS) + conv_num).alias("seg_id"),
        "conv_id", "turn_idx",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    tag_map = (
        metrics.token_tags(m)
        .groupBy("conv_id", "turn_idx", "pos")
        .agg(F.map_from_entries(F.collect_list(F.struct("level", "tag"))).alias("mp"))
    )
    tags_arr = F.transform(
        F.sequence(F.lit(0), F.lit(len(TYPES) - 1)),
        lambda lvl: F.coalesce(F.element_at("mp", lvl), F.lit("O")),
    )
    toks_df = toks.join(tag_map, ["conv_id", "turn_idx", "pos"], "left").select(
        "seg_id", "pos", "token",
        tags_arr.alias("gold_tags"), tags_arr.alias("pred_tags"),
    )
    return predictions_lines(toks_df)


SQL_EVAL_PREDICTIONS = f"""WITH {_SQL_T}, {_SQL_MEN},
mtag AS (
  SELECT conv_id, turn_idx, level, type, start_tok,
         unnest(generate_series(0, end_tok - start_tok - 1)) AS off
  FROM men
),
mtag2 AS (
  SELECT conv_id, turn_idx, level, start_tok + off AS pos,
         CASE WHEN off = 0 THEN 'B-' || type ELSE 'I-' || type END AS tag
  FROM mtag
),
lv AS (SELECT unnest(generate_series(0, {len(TYPES) - 1})) AS level),
ptags AS (
  SELECT td.conv_id, td.turn_idx, td.pos, td.w,
         string_agg(coalesce(m2.tag, 'O'), '|' ORDER BY lv.level) AS tags
  FROM tok td CROSS JOIN lv
  LEFT JOIN mtag2 m2 ON m2.conv_id = td.conv_id AND m2.turn_idx = td.turn_idx
                    AND m2.pos = td.pos AND m2.level = lv.level
  GROUP BY td.conv_id, td.turn_idx, td.pos, td.w
)
SELECT w || chr(9) || tags || chr(9) || tags AS value FROM ptags
UNION ALL SELECT '' AS value FROM documents"""


# ---------------------------------------------------------------- registry

# ------------------------------------------------- graph analytics (events)

# Co-activity graph: users are nodes; an undirected edge connects two
# users who emitted the same event_type within the same minute.  Unlike
# the 13-entity KG (complete at testdata scale) this graph SCALES with
# the data (sf0.001: 15 users/0 edges, sf0.01: 150/207, sf0.1:
# 1500/23k), so triangle/jaccard/BFS outputs are non-degenerate.  The
# bucket self-join is keyed on (event_type, minute) — the wedge center
# — so a hot minute is a skew key AQE's skew split handles; per-bucket
# fan-out is quadratic in bucket occupancy, which is the documented
# cost model of any co-occurrence graph build.
_SQL_COACT = """
cob AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) // 60000000 AS minute
        FROM events),
cound AS (SELECT DISTINCT x.user_id AS a, y.user_id AS b
          FROM cob x JOIN cob y
            ON x.event_type = y.event_type AND x.minute = y.minute
               AND x.user_id < y.user_id)"""


def _coactivity_edges(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    # r7 (guide sections 2.5/6): the events parquet is a few MB = 1-2
    # scan splits, so the distinct's PARTIAL aggregation (1M rows, and
    # events barely deduplicate so it is pure per-row overhead) ran on
    # 1-2 cores.  Repartitioning on the distinct keys first spreads
    # that work; the groupBy reuses the same hash partitioning, so no
    # second exchange appears.
    b = (
        e.select(
            "user_id",
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 60000000").alias("minute"),
        )
        .repartition(pin_width(spark), "user_id", "event_type", "minute")
        .distinct()
    )
    x = b.select(F.col("user_id").alias("ua"), "event_type", "minute")
    y = b.select(F.col("user_id").alias("ub"), "event_type", "minute")
    return (
        x.join(y, ["event_type", "minute"])
        .where(F.col("ua") < F.col("ub"))
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .distinct()
    )


def q_graph_triangles(spark, sf_dir):
    """Triangle counting over the user co-activity graph via the
    degree-ordered-orientation operator (operators/graph.triangle_count
    — wedge fan-out bounded by arboricity, not max degree; the standard
    100-TB-safe formulation).  Oracle replays the identical orientation
    in SQL, so per-node triangle counts value-hash exactly."""
    from arabicner_spark.operators.graph import triangle_count

    return triangle_count(_coactivity_edges(spark, sf_dir))


SQL_GRAPH_TRIANGLES = f"""WITH {_SQL_COACT},
degx AS (SELECT node, count(*) AS deg FROM
           (SELECT a AS node FROM cound UNION ALL SELECT b FROM cound)
         GROUP BY node),
ori AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.a ELSE e.b END AS u,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.b ELSE e.a END AS v,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN db.deg ELSE da.deg END AS dv
        FROM cound e JOIN degx da ON da.node = e.a JOIN degx db ON db.node = e.b),
tri AS (SELECT o1.u, o1.v AS y, o2.v AS z
        FROM ori o1
        JOIN ori o2 ON o1.u = o2.u
                   AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        JOIN ori o3 ON o3.u = o1.v AND o3.v = o2.v),
corners AS (SELECT u AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM corners GROUP BY node"""


def q_graph_jaccard(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the co-activity graph
    (operators/graph.neighbor_jaccard): one adjacency self-join keyed
    on the wedge center + one aggregate + a degree join; single IEEE
    divide per row keeps the score bit-identical across engines."""
    from arabicner_spark.operators.graph import neighbor_jaccard

    return neighbor_jaccard(_coactivity_edges(spark, sf_dir), min_common=2)


SQL_GRAPH_JACCARD = f"""WITH {_SQL_COACT},
adjx AS (SELECT a AS node, b AS peer FROM cound
         UNION ALL SELECT b, a FROM cound),
degx AS (SELECT node, count(*) AS deg FROM adjx GROUP BY node),
pairs AS (SELECT x.node AS node_a, y.node AS node_b,
                 CAST(count(*) AS BIGINT) AS common
          FROM adjx x JOIN adjx y ON x.peer = y.peer AND x.node < y.node
          GROUP BY x.node, y.node
          HAVING count(*) >= 2)
SELECT p.node_a, p.node_b, p.common,
       round(CAST(p.common AS DOUBLE) /
             CAST(da.deg + db.deg - p.common AS DOUBLE), 4) AS jaccard
FROM pairs p JOIN degx da ON da.node = p.node_a
             JOIN degx db ON db.node = p.node_b"""


def q_graph_bfs(spark, sf_dir):
    """Bounded-depth BFS (operators/graph.bfs_depths) from user 0 over
    the co-activity graph: the iterative frontier-expansion dataflow
    (join + anti-join + distinct per round, localCheckpoint lineage
    cuts).  Depth <= 3 keeps the unrolled-CTE oracle exact."""
    from arabicner_spark.operators.graph import bfs_depths

    return bfs_depths(_coactivity_edges(spark, sf_dir), sources=[0], max_depth=3)


SQL_GRAPH_BFS = f"""WITH {_SQL_COACT},
adjx AS (SELECT a AS node, b AS peer FROM cound
         UNION ALL SELECT b, a FROM cound),
v0 AS (SELECT CAST(0 AS BIGINT) AS node),
f1 AS (SELECT DISTINCT j.peer AS node FROM adjx j JOIN v0 ON j.node = v0.node
       WHERE j.peer NOT IN (SELECT node FROM v0)),
f2 AS (SELECT DISTINCT j.peer AS node FROM adjx j JOIN f1 ON j.node = f1.node
       WHERE j.peer NOT IN (SELECT node FROM v0 UNION ALL SELECT node FROM f1)),
f3 AS (SELECT DISTINCT j.peer AS node FROM adjx j JOIN f2 ON j.node = f2.node
       WHERE j.peer NOT IN (SELECT node FROM v0 UNION ALL SELECT node FROM f1
                            UNION ALL SELECT node FROM f2))
SELECT node, CAST(0 AS INTEGER) AS depth FROM v0
UNION ALL SELECT node, CAST(1 AS INTEGER) FROM f1
UNION ALL SELECT node, CAST(2 AS INTEGER) FROM f2
UNION ALL SELECT node, CAST(3 AS INTEGER) FROM f3"""


# -------------------------------------------- TF-IDF / windows / SCD2 / hist

def q_text_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document.  Raw-ratio formulation
    tfidf = tf * N / df (no log) so the score is ONE integer multiply
    + ONE IEEE divide — bit-identical across engines (ln() is libm-
    dependent and can flip a round(,4) at the boundary).  Two map-side-
    combinable aggregates + a term-vocabulary join + a per-doc rank
    window (WindowGroupLimit pushdown)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("score", 4).alias("score"),
            "rank",
        )
    )


SQL_TEXT_TFIDF = """WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
total AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(tf.tf * total.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, round(score, 4) AS score,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3"""


def q_rel_moving_avg(spark, sf_dir):
    """Per-user 10-minute trailing moving aggregate over events: a
    time-RANGE window frame (RANGE BETWEEN 600s PRECEDING AND CURRENT
    ROW on epoch micros) — value-based frames are tie-stable, so two
    events at the same microsecond get identical frames in both
    engines.  Sums run over integer cents (round(value*100)) so the
    sliding-frame accumulation order can't produce float drift; the
    average is derived from the exact integer sum with one divide."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_10m"),
        F.sum("cents").over(w).cast("bigint").alias("sum_cents"),
        F.round(
            F.sum("cents").over(w).cast("double")
            / (F.count(F.lit(1)).over(w).cast("double") * F.lit(100.0)),
            4,
        ).alias("avg_val"),
    )


SQL_REL_MOVING_AVG = """WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id, ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_10m,
       CAST(sum(cents) OVER w AS BIGINT) AS sum_cents,
       round(CAST(sum(cents) OVER w AS DOUBLE) /
             (CAST(count(*) OVER w AS DOUBLE) * 100.0), 4) AS avg_val
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)"""


_SCD2_OPEN_US = 32503680000000000  # 3000-01-01; NULL-free sentinel (driver
# comparator cannot sort NULLs next to numbers)


def q_rel_scd2(spark, sf_dir):
    """SCD-2 dimension build (merge/upsert semantics): collapse each
    customer's order-status history into validity intervals
    [valid_from, valid_to) with an is_current flag.  Change-point
    detection is one lag window; interval close is one lead window —
    both partitioned by the natural key, so the build is a single
    shuffle on o_custkey at any scale.  Open intervals use a year-3000
    sentinel instead of NULL (comparator-safe)."""
    o = load(spark, sf_dir, "orders")
    # valid_from_us is a monotone injection of o_orderdate, so ordering
    # by it is the same order the oracle's (o_orderdate, o_orderkey) uses
    w = Window.partitionBy("o_custkey").orderBy("valid_from_us", "o_orderkey")
    chg = (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").alias("valid_from_us"),
        )
        .withColumn("prev", F.lag("status").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("status")))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("valid_from_us", "o_orderkey")
    return chg.select(
        "o_custkey",
        "status",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(w2), F.lit(_SCD2_OPEN_US)
        ).alias("valid_to_us"),
    ).withColumn(
        "is_current",
        (F.col("valid_to_us") == _SCD2_OPEN_US).cast("int"),
    )


SQL_REL_SCD2 = f"""WITH chg AS (
  SELECT o_custkey, o_orderkey, o_orderstatus AS status,
         epoch_us(o_orderdate) AS valid_from_us,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
  QUALIFY prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey, status, valid_from_us,
       coalesce(lead(valid_from_us) OVER (PARTITION BY o_custkey
                                          ORDER BY valid_from_us, o_orderkey),
                {_SCD2_OPEN_US}) AS valid_to_us,
       CAST(coalesce(lead(valid_from_us) OVER (PARTITION BY o_custkey
                                               ORDER BY valid_from_us, o_orderkey),
                     {_SCD2_OPEN_US}) = {_SCD2_OPEN_US} AS INTEGER) AS is_current
FROM chg"""


def q_sketch_hist_quantile(spark, sf_dir):
    """Mergeable histogram-quantile sketch over order totals: fixed
    $5000-wide buckets -> ONE map-side-combinable groupBy over the fact
    table; quantile extraction (p50/p90/p99 = lower bound of the first
    bucket whose cumulative count reaches ceil(q*N)) runs on the
    bucket-vocabulary-sized state (the unpartitioned cumulative window
    is over ~10^2 rows, not data rows).  The at-scale counterpart of
    rel_value_quantiles' exact percentile: one pass, mergeable partials,
    bounded error = bucket width."""
    o = load(spark, sf_dir, "orders")
    hist = o.groupBy(
        F.expr("CAST(floor(o_totalprice / 5000.0) AS INTEGER)").alias("bucket")
    ).agg(F.count("*").alias("n_bucket"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n_bucket").over(wcum))
    total = o.agg(F.count("*").alias("n_total"))
    qs = local_table(o.sparkSession, [(0.5,), (0.9,), (0.99,)], "q double")
    cand = (
        cum.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(total))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
        .groupBy("q", "n_total")
        .agg(F.min("bucket").alias("bucket"))
    )
    return cand.select(
        "q",
        "bucket",
        (F.col("bucket") * F.lit(5000.0)).alias("est_lo"),
        F.col("n_total").cast("bigint").alias("n_total"),
    )


SQL_SKETCH_HIST_QUANTILE = """WITH hist AS (
  SELECT CAST(floor(o_totalprice / 5000.0) AS INTEGER) AS bucket,
         count(*) AS n_bucket
  FROM orders GROUP BY 1
),
cum AS (SELECT bucket, sum(n_bucket) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
total AS (SELECT count(*) AS n_total FROM orders),
qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE)))
SELECT qs.q, min(cum.bucket) AS bucket,
       CAST(min(cum.bucket) * 5000.0 AS DOUBLE) AS est_lo,
       CAST(total.n_total AS BIGINT) AS n_total
FROM cum CROSS JOIN qs CROSS JOIN total
WHERE cum.cum >= ceil(qs.q * total.n_total)
GROUP BY qs.q, total.n_total"""


# ------------------------------------- semi-structured / pivot / fuzzy link

def q_json_props(spark, sf_dir):
    """Semi-structured extraction: pull the integer payload out of the
    events JSON props column, then one rollup per event_type over it.
    get_json_object is JVM-side codegen (no UDF); at scale this is scan
    + one map-side-combinable aggregate, and the JSON path never leaves
    the executor."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
        )
    )


SQL_JSON_PROPS = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
         AS n_distinct_k
FROM events GROUP BY event_type"""


def q_rel_pivot(spark, sf_dir):
    """Pivot: order counts and total value per priority, one column per
    order status — the real DataFrame .pivot() API with an EXPLICIT
    value list (never the two-pass value-discovery form, which scans
    the fact table twice at scale).  Plans as one hash aggregate with
    conditional expressions — exactly the FILTER-clause oracle."""
    o = load(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return p.select(
        "o_orderpriority",
        F.col("F").cast("bigint").alias("n_f"),
        F.col("O").cast("bigint").alias("n_o"),
        F.col("P").cast("bigint").alias("n_p"),
    )


SQL_REL_PIVOT = """SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority"""


def q_rel_unpivot(spark, sf_dir):
    """Unpivot (melt): the pivoted per-priority status counts stacked
    back to long form via the DataFrame .unpivot() API — wide->long is
    a per-row expression expansion (Expand node), no shuffle beyond the
    pivot's own aggregate."""
    wide = q_rel_pivot(spark, sf_dir)
    return wide.unpivot(
        ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n"
    ).select(
        "o_orderpriority",
        "status_col",
        F.col("n").cast("bigint").alias("n"),
    )


SQL_REL_UNPIVOT = f"""WITH wide AS ({SQL_REL_PIVOT})
SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM wide
UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM wide
UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM wide"""


def q_rel_rank_funcs(spark, sf_dir):
    """Ranking-window family in one pass: ntile, percent_rank and
    cume_dist per order within its priority class (orderkey tie-break
    makes every rank deterministic).  percent_rank/cume_dist are exact
    integer ratios evaluated with one IEEE divide — portable."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


SQL_REL_RANK_FUNCS = """SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 4) AS pct_rank,
       round(cume_dist() OVER w, 4) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)"""


def q_link_fuzzy(spark, sf_dir):
    """Fuzzy entity linking: edit-distance <= 1 match of corpus tokens
    against the alias dictionary (typo-tolerant complement of the exact
    alias linker in operators/linking.py).  The quadratic term is
    DISTINCT-TOKEN-VOCAB x dictionary — never corpus x dictionary: the
    distinct() collapses the 100-TB fact side to its vocabulary before
    the bounded broadcast, the same scan-reduction that makes ann_topk's
    broadcast acceptable.  levenshtein() is JVM codegen on both engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).distinct()
    alias = alias_df_td(spark).select("alias", "entity_id")
    return (
        toks.crossJoin(F.broadcast(alias))
        .withColumn("dist", F.levenshtein("token", "alias").cast("int"))
        .where(F.col("dist") <= 1)
        .select("token", "alias", "entity_id", "dist")
    )


SQL_LINK_FUZZY = f"""WITH {_SQL_ALIAS},
toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents)
SELECT t.token, a.alias, a.entity_id,
       CAST(levenshtein(t.token, a.alias) AS INTEGER) AS dist
FROM toks t JOIN alias_raw a ON levenshtein(t.token, a.alias) <= 1"""


# --------------------------------------- behavioral analytics / data quality

def q_funnel(spark, sf_dir):
    """Ordered-funnel analysis: per user, how far through
    view -> click -> purchase they progressed, with strict time order
    and first-qualifying-event semantics (step k counts only events
    AFTER the user's step-(k-1) time).  Three per-user min-aggregates
    chained by inner joins — every stage is keyed on user_id, so the
    whole funnel is ONE shuffle key end-to-end (co-partitioned joins,
    no re-shuffle between stages at scale)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    users = e.select("user_id").distinct()
    return (
        users.join(s1.select("user_id", F.lit(1).alias("r1")), "user_id", "left")
        .join(s2.select("user_id", F.lit(1).alias("r2")), "user_id", "left")
        .join(s3.select("user_id", F.lit(1).alias("r3")), "user_id", "left")
        .select(
            "user_id",
            (
                F.coalesce("r1", F.lit(0))
                + F.coalesce("r2", F.lit(0))
                + F.coalesce("r3", F.lit(0))
            ).cast("int").alias("stage"),
        )
    )


SQL_FUNNEL = """WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id)
SELECT u.user_id,
       CAST((CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS INTEGER) AS stage
FROM (SELECT DISTINCT user_id FROM e) u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id"""


def q_cohort_retention(spark, sf_dir):
    """Cohort-retention matrix: users grouped by first-activity day,
    counted on each of the next 7 days they return.  Two aggregates +
    one join, all keyed on user_id then (cohort_day, offset) — day
    arithmetic is pure integer epoch-day math, no calendar functions to
    disagree on."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("day"),
    ).distinct()
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .withColumn("day_offset", (F.col("day") - F.col("cohort_day")).cast("int"))
        .where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_COHORT_RETENTION = """WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
first AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
SELECT f.cohort_day, CAST(a.day - f.cohort_day AS INTEGER) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN first f USING (user_id)
WHERE a.day - f.cohort_day <= 7
GROUP BY f.cohort_day, day_offset"""


def q_stats_outliers(spark, sf_dir):
    """Z-score outlier detection per event_type with EXACT integer
    moments: sum and sum-of-squares accumulate over integer cents
    (BIGINT — order-independent, unlike float sums), and mean/variance
    are derived with one fixed expression tree of IEEE ops so both
    engines compute bit-identical z-scores.  One map-side-combinable
    moments aggregate (type-vocabulary-sized state, the mergeable-
    sketch property) + one broadcast join back to the facts.  At
    1e12-row scale sumsq needs DECIMAL(38) headroom — documented here;
    BIGINT is exact through ~1e5x the largest testdata sf."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n").cast("double")
    ) / F.col("n").cast("double")
    stats = m.select("event_type", mean.alias("mu"), F.sqrt(var).alias("sigma"))
    z = (F.col("cents").cast("double") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 4))
        .where(F.abs(F.col("z")) >= 1.5)
        .select("event_id", "event_type", "cents", "z")
    )


SQL_STATS_OUTLIERS = """WITH e AS (
  SELECT event_id, event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
m AS (SELECT event_type, count(*) AS n, sum(cents) AS s, sum(cents * cents) AS sq
      FROM e GROUP BY event_type),
stats AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         sqrt((CAST(sq AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(n AS DOUBLE)) AS sigma
  FROM m
)
SELECT e.event_id, e.event_type, e.cents,
       round((CAST(e.cents AS DOUBLE) - st.mu) / st.sigma, 4) AS z
FROM e JOIN stats st USING (event_type)
WHERE abs(round((CAST(e.cents AS DOUBLE) - st.mu) / st.sigma, 4)) >= 1.5"""


def q_stream_sessions(spark, sf_dir):
    """STREAMING session windows, oracle-gated: events -> readStream ->
    user_session_aggregates (watermarked native session_window under
    the streaming state store) -> availableNow update-mode memory sink.
    The source is ONE file, so the drain is a single micro-batch: all
    session merging happens inside it and every final session is
    emitted exactly once — which must equal the batch gap-
    sessionization oracle (the SAME SQL that gates rel_session_window,
    proving batch session_window, streaming session_window, and the
    manual lag+cumsum composition all agree)."""
    events = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    return _drain(
        spark,
        events.coalesce(1),
        lambda src: ingest.user_session_aggregates(
            spark.readStream.schema("user_id bigint, ts timestamp, cents bigint").parquet(src)
        ),
        lambda rows: rows.select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            "n_events",
            "sum_cents",
        ),
        mode="append",  # session windows forbid update mode
    )


def q_rel_session_window(spark, sf_dir):
    """Spark's NATIVE session_window (dynamic-gap session aggregation —
    the streaming-capable built-in) vs a manual lag+cumulative-sum gap
    sessionization oracle.  Pins the built-in's exact merge rule:
    sessions merge when the next event is <= gap after the previous
    (touching intervals merge; a new session starts only when the gap
    is STRICTLY exceeded), session end = last event + gap.  One shuffle
    on user_id; state is per-(user, session).  The rel_event_sessions
    query keeps the manual composition; this one proves the built-in
    matches it."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    out = e.groupBy("user_id", F.session_window("ts", "300 seconds")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("start_us"),
        F.unix_micros(F.col("session_window.end")).alias("end_us"),
        "n_events",
        "sum_cents",
    )


SQL_REL_SESSION_WINDOW = """WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
marked AS (
  SELECT user_id, ts_us, cents,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                   > 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sess AS (
  SELECT user_id, ts_us, cents,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 300000000 AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, sid"""


# Append-mode session windows emit only sessions FINALIZED by the
# final watermark (max event ts - the 10-minute delay); the session
# containing the stream's last events is still open when the source
# drains, so the oracle applies the same finalization cut.  (No end_us
# ever ties the watermark exactly in the fixed testdata — the cut is
# unambiguous at every sf; the gate would catch a tie as a MISMATCH.)
SQL_STREAM_SESSIONS = f"""WITH sessions AS ({SQL_REL_SESSION_WINDOW})
SELECT * FROM sessions
WHERE end_us <= (SELECT max(epoch_us(ts)) FROM events) - 600000000"""


def q_stream_join_enrich(spark, sf_dir):
    """Watermarked STREAM-STREAM inner join, oracle-gated
    (streaming/ingest.join_turn_metadata): the mentions stream joined
    with a SECOND independent stream of the raw turns on
    (conv_id, turn_idx) plus an event-time tolerance bound — the bound
    is what lets the state store evict buffered rows, the difference
    between a production stream-stream join and an unbounded one.  Both
    streams read the same one-file source (single micro-batch per side,
    so the watermark can never drop rows), drain with availableNow into
    an append memory sink, and the joined rows must equal the BATCH
    mentions ⋈ turns join (the DuckDB oracle)."""
    def stream_of(src):
        mentions = ingest.streaming_mentions(
            ingest.stream_transcripts(spark, src), gazetteer_dict_td()
        )
        return ingest.join_turn_metadata(mentions, ingest.stream_transcripts(spark, src))

    return _drain(
        spark,
        transcripts(spark, sf_dir).coalesce(1),
        stream_of,
        lambda rows: rows.select(
            "conv_id", "turn_idx", "role", "level", "type", "start_tok", "end_tok", "text"
        ),
    )


SQL_STREAM_JOIN_ENRICH = f"""WITH {_SQL_T}, {_SQL_MEN}
SELECT m.conv_id, m.turn_idx, t.role, m.level, m.type, m.start_tok, m.end_tok, m.text
FROM men m JOIN t ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx"""


def q_stream_dedup(spark, sf_dir):
    """Streaming deduplication with BOUNDED state, oracle-gated
    (streaming/ingest.dedup_within_watermark →
    dropDuplicatesWithinWatermark): the events table is written with
    every row DUPLICATED (union all self) into one file — a single
    micro-batch, so every duplicate pair arrives within the watermark
    delay and must be suppressed — then drained with availableNow into
    an append memory sink.  The surviving rows must equal the batch
    DISTINCT over events (the DuckDB oracle).  Cents fixed-point keeps
    the payload integer for the value hash."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    return _drain(
        spark,
        ev.unionAll(ev).coalesce(1),
        lambda src: ingest.dedup_within_watermark(
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string, cents bigint"
            ).parquet(src),
            ["event_id"],
            "ts",
            "10 minutes",
        ),
        lambda rows: rows.select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "cents"
        ),
    )


SQL_STREAM_DEDUP = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events"""


def q_stream_idempotent_sink(spark, sf_dir):
    """EXACTLY-ONCE file sink on at-least-once batch replay
    (streaming/ingest.idempotent_parquet_sink): the events stream
    drains through foreachBatch into per-epoch overwrite-mode
    directories (multi-file source + maxFilesPerTrigger=2 → several
    micro-batches, so the epoch layout is actually exercised), then
    one epoch is REPLAYED through the same writer — the duplication
    window Structured Streaming leaves open between sink commit and
    checkpoint commit — and the read-back union of epochs must still
    equal the batch table exactly (the DuckDB oracle).  An append-mode
    sink would hold a second copy of the replayed batch here."""
    import glob

    cols = ["event_id", "user_id", "event_type", "cents"]
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )

    def result_of(out):
        # simulate the replay: re-run the writer for an existing epoch with
        # the same rows — overwrite semantics must leave the table unchanged
        epochs = sorted(glob.glob(f"{out}/__epoch=*"))
        # localCheckpoint decouples the replay rows from the files the
        # writer is about to overwrite (lazy read + overwrite of the same
        # path would otherwise race itself)
        replay_df = spark.read.parquet(epochs[0]).localCheckpoint(eager=True)
        sink = ingest.idempotent_parquet_sink(out, cols)
        sink(replay_df, int(epochs[0].rsplit("=", 1)[1]))
        return spark.read.parquet(f"{out}/__epoch=*")

    return _drain(
        spark,
        ev.repartition(4),
        lambda src: spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, cents bigint"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src),
        result_of,
        sink_of=lambda out: ingest.idempotent_parquet_sink(out, cols),
    )


SQL_STREAM_IDEMPOTENT_SINK = """
SELECT event_id, user_id, event_type,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events"""


def q_rel_gap_fill(spark, sf_dir):
    """Time-series gap filling with forward fill (LOCF): a dense
    per-user hourly grid over the first 72 hours (sequence + explode —
    grid generation is an expression, no driver loop), left-joined with
    observed hourly totals, missing hours forward-filled from the last
    observation (last(..., ignorenulls) over a running frame — the
    hypertable-family completion of rel_hypertable_daily).  Hours
    before a user's first observation stay at the -1 sentinel (the
    driver comparator cannot sort NULLs next to numbers).  One shuffle
    on user_id; the grid is users x 72 rows, never data-sized."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("hour"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    h0 = e.agg(F.min("hour").alias("h0"))
    obs = e.groupBy("user_id", "hour").agg(F.sum("cents").alias("hour_cents"))
    grid = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(h0))
        .select(
            "user_id",
            F.explode(F.expr("sequence(h0, h0 + 71)")).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "hour"], "left")
        .select("user_id", "hour", F.col("hour_cents").alias("hc"))
        .withColumn("filled_cents", F.coalesce(F.last("hc", ignorenulls=True).over(w), F.lit(-1)))
        .select(
            "user_id",
            "hour",
            F.coalesce("hc", F.lit(-1)).alias("observed_cents"),
            "filled_cents",
        )
    )


SQL_REL_GAP_FILL = """WITH e AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
h0 AS (SELECT min(hour) AS h0 FROM e),
obs AS (SELECT user_id, hour, CAST(sum(cents) AS BIGINT) AS hour_cents
        FROM e GROUP BY user_id, hour),
grid AS (
  SELECT u.user_id, g.hour
  FROM (SELECT DISTINCT user_id FROM e) u
  CROSS JOIN (SELECT unnest(generate_series(h0, h0 + 71)) AS hour FROM h0) g
)
SELECT grid.user_id, grid.hour,
       CAST(coalesce(obs.hour_cents, -1) AS BIGINT) AS observed_cents,
       CAST(coalesce(last_value(obs.hour_cents IGNORE NULLS)
                  OVER (PARTITION BY grid.user_id ORDER BY grid.hour
                        ROWS UNBOUNDED PRECEDING), -1) AS BIGINT) AS filled_cents
FROM grid LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.hour = obs.hour"""


def q_cdc_apply(spark, sf_dir):
    """CDC changelog apply (MERGE INTO semantics without an Iceberg
    runtime): base = customer; a deterministic changelog derived from
    orders (op per order: sparse deletes on every 97th final order,
    else an upsert of the account balance; seq = orderkey).  Latest-op-
    per-key wins (one rank window on the natural key), deletes drop the
    row, upserts overwrite, unseen keys insert (full outer join).  At
    scale this is one shuffle on the merge key for the window + one
    co-partitioned join — the standard compaction shape for applying a
    day's changelog to a snapshot."""
    from arabicner_spark.operators.cdc import apply_changelog

    base = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("bal_cents"),
    )
    log = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 97 == 0), "D"
        ).otherwise("U").alias("op"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("bal_cents"),
    )
    merged = apply_changelog(base, log, "c_custkey", payload=["bal_cents"])
    return merged.select(
        "c_custkey",
        F.coalesce("c_name", F.lit("cdc_insert")).alias("name"),
        "bal_cents",
        "src",
    )


SQL_CDC_APPLY = """WITH c AS (
  SELECT c_custkey, c_name,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS base_cents
  FROM customer
),
log AS (
  SELECT o_custkey AS c_custkey, o_orderkey AS seq,
         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 97 = 0 THEN 'D'
              ELSE 'U' END AS op,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS new_cents
  FROM orders
),
latest AS (
  SELECT c_custkey, op, new_cents,
         row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
  FROM log QUALIFY rn = 1
)
SELECT coalesce(c.c_custkey, l.c_custkey) AS c_custkey,
       coalesce(c.c_name, 'cdc_insert') AS name,
       coalesce(l.new_cents, c.base_cents) AS bal_cents,
       CASE WHEN l.op IS NULL THEN 'base' ELSE 'cdc' END AS src
FROM c FULL JOIN latest l ON c.c_custkey = l.c_custkey
WHERE l.op IS NULL OR l.op <> 'D'"""


def q_sketch_kmv_by_flag(spark, sf_dir):
    """Per-group KMV sketch (functions/sketches.kmv_distinct_by):
    distinct-l_orderkey estimate per lineitem return flag.  The rank
    window under rank<=k plans WindowGroupLimit (map-side per-group
    top-k), so sketch state is <= k hashes per group per partition —
    the mergeable-aggregate form of sketch_kmv_distinct's global
    sketch.  Small groups fall back to the exact count (standard KMV
    rule), and the estimate value-hashes against DuckDB bit-for-bit."""
    from arabicner_spark.functions.sketches import kmv_distinct_by

    li = load(spark, sf_dir, "lineitem")
    sk = kmv_distinct_by(li, "l_returnflag", "l_orderkey", k=KMV_K)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_n")
    )
    return sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_kept",
        "kth_hash",
        "estimate",
        "exact_n",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_n")) / F.col("exact_n"), 4
        ).alias("rel_err"),
    )


SQL_SKETCH_KMV_BY_FLAG = f"""WITH h AS (
  SELECT DISTINCT l_returnflag AS grp, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
),
kept AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rnk
  FROM h QUALIFY rnk <= {KMV_K}
),
agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash
        FROM kept GROUP BY grp),
est AS (
  SELECT grp, n_kept, kth_hash,
         CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE round(({KMV_K} - 1) /
                   ((CAST(('0x' || substr(kth_hash, 1, 15)) AS UBIGINT)::DOUBLE + 1)
                    / {float(16 ** 15)}), 4) END AS estimate
  FROM agg
),
ex AS (SELECT l_returnflag AS grp, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_n
       FROM lineitem GROUP BY l_returnflag)
SELECT est.grp AS l_returnflag, est.n_kept, est.kth_hash, est.estimate, ex.exact_n,
       round(abs(est.estimate - ex.exact_n) / ex.exact_n, 4) AS rel_err
FROM est JOIN ex ON est.grp = ex.grp"""


# ------------------------------------------- round-5 additions

def q_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer training, the counting step (operators/bpe.py):
    top-20 adjacent character pairs over the word-frequency table,
    weighted by word frequency, ties (count desc, pair asc).  The
    corpus is scanned ONCE to build the vocab table; pair counting runs
    on that vocab-sized table — the two-tier shape that makes BPE
    training feasible at 100 TB."""
    from arabicner_spark.operators import bpe

    d = load(spark, sf_dir, "documents")
    return bpe.char_pair_counts(bpe.word_freqs(d), k=20)


SQL_BPE_PAIR_COUNTS = """WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
p AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM w, unnest(generate_series(1, len(word) - 1)) AS u(i)
),
a AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair)
SELECT pair, n FROM a ORDER BY n DESC, pair LIMIT 20"""


def q_kg_label_prop(spark, sf_dir):
    """Community detection over the user co-activity graph:
    deterministic synchronous label propagation, 3 rounds
    (operators/graph.label_propagation) — most-frequent neighbor
    label, ties to the smallest label, so the run is a pure function
    of the edge set and the unrolled-CTE oracle value-hashes exactly.
    Per round: one adjacency-x-labels join + one count agg + one
    max_by arg-max — no window, no per-node sort, state one row per
    node."""
    from arabicner_spark.operators.graph import label_propagation

    return label_propagation(_coactivity_edges(spark, sf_dir), rounds=3)


_SQL_LPA_ROUND = """v{r} AS (
  SELECT x.node, l.label, count(*) AS n
  FROM adjx x JOIN l{p} l ON l.node = x.peer
  GROUP BY x.node, l.label
),
l{r} AS (
  SELECT node, label FROM v{r}
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY n DESC, label) = 1
)"""

SQL_KG_LABEL_PROP = f"""WITH {_SQL_COACT},
adjx AS (SELECT a AS node, b AS peer FROM cound
         UNION ALL SELECT b, a FROM cound),
l0 AS (SELECT DISTINCT node, node AS label FROM adjx),
{_SQL_LPA_ROUND.format(r=1, p=0)},
{_SQL_LPA_ROUND.format(r=2, p=1)},
{_SQL_LPA_ROUND.format(r=3, p=2)}
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label FROM l3"""


MIX_TARGETS = {"web": 0.5, "code": 0.3, "chat": 0.2}
MIX_K = 200
MIX_SEED = 11


def _mix_source():
    return (
        F.when(F.col("doc_id") % 3 == 0, F.lit("web"))
        .when(F.col("doc_id") % 3 == 1, F.lit("code"))
        .otherwise(F.lit("chat"))
    )


def q_sample_mixture(spark, sf_dir):
    """Multi-source data MIXING (functions/sampling.mixture_sample):
    blend ~MIX_K docs to target web/code/chat proportions with
    per-source rates min(1, share*k/size) and membership decided by a
    60-bit seeded-md5 cut under floor(rate * 2^60) — deterministic
    across runs/partitionings/engines (one IEEE division, one multiply
    by an exact power of two, one floor; every step correctly
    rounded).  Gate reports per-source totals and kept counts."""
    from arabicner_spark.functions.sampling import mixture_sample

    d = load(spark, sf_dir, "documents").withColumn("source", _mix_source())
    kept = mixture_sample(d, "doc_id", "source", MIX_TARGETS, MIX_K, seed=MIX_SEED)
    tot = d.groupBy("source").agg(F.count("*").alias("n_total"))
    kc = kept.groupBy("source").agg(F.count("*").alias("n_kept"))
    return tot.join(kc, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


_MIX_VALUES = ", ".join(
    f"('{s}', CAST({share * MIX_K!r} AS DOUBLE))" for s, share in MIX_TARGETS.items()
)

SQL_SAMPLE_MIXTURE = f"""WITH src AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'web'
              WHEN 1 THEN 'code' ELSE 'chat' END AS source
  FROM documents
),
sizes AS (SELECT source, count(*) AS sz FROM src GROUP BY source),
tgt AS (SELECT * FROM (VALUES {_MIX_VALUES}) t(source, des)),
thr AS (
  SELECT s.source, s.sz,
         CAST(floor(least(1.0, t.des / CAST(s.sz AS DOUBLE))
                    * {float(16 ** 15)!r}) AS BIGINT) AS cut
  FROM sizes s JOIN tgt t ON t.source = s.source
),
kept AS (
  SELECT r.source
  FROM src r JOIN thr ON thr.source = r.source
  WHERE CAST(CAST(('0x' || substr(md5('{MIX_SEED}|' || CAST(r.doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) AS BIGINT) < thr.cut
),
kc AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source)
SELECT s.source, CAST(s.sz AS BIGINT) AS n_total,
       CAST(coalesce(kc.n_kept, 0) AS BIGINT) AS n_kept
FROM sizes s LEFT JOIN kc ON kc.source = s.source"""


def q_snapshot_time_travel(spark, sf_dir):
    """Iceberg-contract time travel on the TableIO facade
    (sources/io.py): commit v1 = even doc_ids, commit v2 = all docs,
    then read v1 AFTER the v2 commit — an old snapshot must stay
    readable, unchanged, under later commits (immutable version dirs
    on the parquet facade; VERSION AS OF when an Iceberg catalog is
    configured).  Output: per (version, lang) doc counts + total text
    chars from the time-travel reads; oracle derives both versions
    straight from the source table."""
    from arabicner_spark.sources.io import TableIO

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    def agg(df, version):
        return (
            df.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("chars"),
            )
            .select(
                F.lit(version).cast("int").alias("version"),
                "lang",
                "n_docs",
                "chars",
            )
        )

    # materialize the (tiny) aggregates before the snapshot root goes —
    # a lazy df over the tempdir would leak two copies of the documents
    # table per gate/bench invocation
    with _temp_dirs("tt") as (root,):
        io = TableIO(spark, root, "parquet")
        v1 = io.write_snapshot(d.where(F.col("doc_id") % 2 == 0), "docs")
        io.write_snapshot(d, "docs")
        old = agg(io.read_snapshot("docs", version=v1), 1)
        latest = agg(io.read_snapshot("docs"), 2)
        return old.unionByName(latest).localCheckpoint(eager=True)


SQL_SNAPSHOT_TIME_TRAVEL = """
SELECT CAST(1 AS INTEGER) AS version, lang,
       count(*) AS n_docs, CAST(sum(len(text)) AS BIGINT) AS chars
FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
UNION ALL
SELECT CAST(2 AS INTEGER), lang, count(*), CAST(sum(len(text)) AS BIGINT)
FROM documents GROUP BY lang"""


def q_ann_kmeans(spark, sf_dir):
    """IVF centroid refinement: 2 deterministic Lloyd rounds in
    fixed-point int64 (operators/kmeans.py) seeded with the IVF_CELLS
    convention (vectors with vec_id < 8).  Float centroid means are
    order-dependent reductions a value-hash gate cannot tolerate;
    fixed-point + truncated integral means + (dist, cl) tie order make
    the whole run a pure function of the input, so the unrolled
    two-round SQL oracle matches exactly.  Long-format plan: no array
    rebuilds, broadcast centroid join, map-side-combinable aggs."""
    from arabicner_spark.operators.kmeans import kmeans_fp

    e = _embeddings(spark, sf_dir)
    return kmeans_fp(e, "vec_id", "v", k=8, rounds=2)


SQL_ANN_KMEANS = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
ev AS (
  SELECT vec_id, i AS dim, CAST(floor(v[i] * 1000000) AS BIGINT) AS val
  FROM e, unnest(generate_series(1, len(v))) AS u(i)
),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cl, dim, val AS cval
       FROM ev WHERE vec_id < 8),
{_SQL_KM_ASSIGN.format(r=1, p=0)},
c1 AS (
  SELECT a1.cl, ev.dim,
         CAST(CAST(sign(CAST(SUM(ev.val) AS BIGINT)) AS BIGINT)
              * (abs(CAST(SUM(ev.val) AS BIGINT)) // COUNT(*)) AS BIGINT) AS cval
  FROM ev JOIN a1 ON a1.vec_id = ev.vec_id GROUP BY a1.cl, ev.dim
),
{_SQL_KM_ASSIGN.format(r=2, p=1)}
SELECT vec_id, CAST(cl AS INTEGER) AS cluster, CAST(dist AS BIGINT) AS dist_fp
FROM a2"""


def q_graph_kcore(spark, sf_dir):
    """Bounded k-core peel over the co-activity graph
    (operators/graph.kcore, k=2, 3 rounds): iteratively drop nodes
    with induced degree < k; survivors + final-round degree.  Fixed
    round count = deterministic + unrolled-CTE-exact (the bfs_depths
    convention).  Per round: two survivor semi-joins + one count agg."""
    from arabicner_spark.operators.graph import kcore

    return kcore(_coactivity_edges(spark, sf_dir), k=2, rounds=3)


_SQL_KCORE_ROUND = """e{r} AS (
  SELECT x.node, x.peer FROM adjx x
  JOIN n{p} a ON a.node = x.node JOIN n{p} b ON b.node = x.peer
),
d{r} AS (SELECT node, count(*) AS deg FROM e{r} GROUP BY node),
n{r} AS (SELECT node FROM d{r} WHERE deg >= 2)"""

SQL_GRAPH_KCORE = f"""WITH {_SQL_COACT},
adjx AS (SELECT a AS node, b AS peer FROM cound
         UNION ALL SELECT b, a FROM cound),
n0 AS (SELECT DISTINCT node FROM adjx),
{_SQL_KCORE_ROUND.format(r=1, p=0)},
{_SQL_KCORE_ROUND.format(r=2, p=1)},
{_SQL_KCORE_ROUND.format(r=3, p=2)}
SELECT d3.node, CAST(d3.deg AS INTEGER) AS deg
FROM d3 WHERE d3.deg >= 2"""


# --- product quantization ANN (IVF-PQ compressed index) --------------
PQ_M = 4        # subspaces: 64 dims -> 4 x 16
PQ_SDIMS = 16
PQ_K = 8        # codebook entries per subspace (id < 8 seed)
PQ_NQ = 10      # ADC query ids
PQ_TOPK = 3


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py): per-subspace
    fixed-point codebooks (one Lloyd update from the id<8 seed), each
    vector stored as 4 codes instead of 64 floats (the
    memory-compressed index family a trillion-vector deployment
    actually ships), then ADC top-3 for the first 10 query ids —
    approximate L2² as the sum of 4 broadcast table lookups per
    candidate.  All int64 fixed-point, so the unrolled per-subspace
    SQL oracle matches by value hash."""
    from arabicner_spark.operators.pq import pq_index_and_search

    e = _embeddings(spark, sf_dir)
    return pq_index_and_search(
        e, m=PQ_M, k=PQ_K, updates=1, query_ids=range(PQ_NQ), topk=PQ_TOPK
    )


# one per-subspace fixed-point assign round against codebook p{p}:
# exact int64 L2² summed over the subspace's local dims, arg-min per
# (vec_id, sub) with (dist, cl) tie order — kmeans' _SQL_KM_ASSIGN
# with the subspace id added to every key
_SQL_PQ_ASSIGN = """pd{r} AS (
  SELECT sv.vec_id, sv.sub, c.cl,
         CAST(SUM((sv.val - c.cval) * (sv.val - c.cval)) AS BIGINT) AS dist
  FROM sv JOIN p{p} c ON c.sub = sv.sub AND c.sdim = sv.sdim
  GROUP BY sv.vec_id, sv.sub, c.cl
),
pa{r} AS (
  SELECT vec_id, sub, cl FROM pd{r}
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cl) = 1
)"""

SQL_ANN_PQ = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
ev AS (
  SELECT vec_id, i AS dim, CAST(floor(v[i] * 1000000) AS BIGINT) AS val
  FROM e, unnest(generate_series(1, len(v))) AS u(i)
),
sv AS (
  SELECT vec_id, CAST((dim - 1) // {PQ_SDIMS} + 1 AS INTEGER) AS sub,
         (dim - 1) % {PQ_SDIMS} + 1 AS sdim, val
  FROM ev
),
p0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cl, sdim, val AS cval
       FROM sv WHERE vec_id < {PQ_K}),
{_SQL_PQ_ASSIGN.format(r=1, p=0)},
p1 AS (
  SELECT sv.sub, a.cl, sv.sdim,
         CAST(CAST(sign(CAST(SUM(sv.val) AS BIGINT)) AS BIGINT)
              * (abs(CAST(SUM(sv.val) AS BIGINT)) // COUNT(*)) AS BIGINT) AS cval
  FROM sv JOIN pa1 a ON a.vec_id = sv.vec_id AND a.sub = sv.sub
  GROUP BY sv.sub, a.cl, sv.sdim
),
{_SQL_PQ_ASSIGN.format(r=2, p=1)},
codes AS (SELECT vec_id, sub, cl AS code FROM pa2),
qv AS (SELECT vec_id AS q, sub, sdim, val AS qval
       FROM sv WHERE vec_id < {PQ_NQ}),
dtab AS (
  SELECT qv.q, qv.sub, c.cl,
         CAST(SUM((qv.qval - c.cval) * (qv.qval - c.cval)) AS BIGINT) AS pdist
  FROM qv JOIN p1 c ON c.sub = qv.sub AND c.sdim = qv.sdim
  GROUP BY qv.q, qv.sub, c.cl
),
adc AS (
  SELECT d.q, codes.vec_id AS neighbor, CAST(SUM(d.pdist) AS BIGINT) AS adc_dist
  FROM codes JOIN dtab d ON d.sub = codes.sub AND d.cl = codes.code
  GROUP BY d.q, codes.vec_id
)
SELECT q, neighbor, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q, neighbor, adc_dist,
         row_number() OVER (PARTITION BY q ORDER BY adc_dist, neighbor) AS rank
  FROM adc WHERE q != neighbor
) WHERE rank <= {PQ_TOPK}"""


# --- personalized pagerank + temporal reachability -------------------
PPR_SEEDS = 3


def q_kg_pagerank_personalized(spark, sf_dir):
    """PERSONALIZED PageRank over the canonical KG
    (operators/graph.pagerank_personalized_exact): teleport mass
    returns to the 3 lexicographically-smallest entity nodes, so
    ranks measure relevance TO that seed neighborhood — the "which
    entities matter around these" query a KG answers, vs kg_pagerank's
    global importance.  Same fixed-point BIGINT algebra and per-round
    join+agg shape; oracle unrolls the 5 seeded iterations."""
    from arabicner_spark.operators.graph import (
        PR_SCALE,
        pagerank_personalized_exact,
    )

    # materialize the NER -> triples -> linked-edges prefix ONCE: the
    # seed derivation and the operator's own edge checkpoint otherwise
    # each replay the whole upstream chain (r7; DataFrame DAGs have no
    # common-subexpression reuse — the triangle_count precedent)
    edges = q_kg_edges(spark, sf_dir).localCheckpoint(eager=True)
    seeds = _seed_nodes(edges, PPR_SEEDS)
    pr = pagerank_personalized_exact(edges, seeds, iterations=5, damping_pct=85)
    return pr.select(
        "node", (F.col("rank_i").cast("double") / F.lit(float(PR_SCALE))).alias("rank")
    )


def _sql_ppr_iter(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT nd.node,
         (CASE WHEN sd.node IS NOT NULL THEN scnt.base ELSE 0 END)
           + (coalesce(s.inflow, 0) * 85) // 100 AS rank_i
  FROM nd LEFT JOIN sd ON sd.node = nd.node CROSS JOIN scnt
  LEFT JOIN (SELECT e.dst AS node, sum(p.rank_i // od.outd) AS inflow
             FROM {prev} p JOIN ed e ON e.src = p.node JOIN od ON od.src = e.src
             GROUP BY e.dst) s ON s.node = nd.node
)"""


SQL_KG_PAGERANK_PERSONALIZED = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
ed AS (SELECT DISTINCT sa.entity_id AS src, sb.entity_id AS dst
       FROM tri JOIN alias_best sa ON tri.subj = sa.alias
                JOIN alias_best sb ON tri.obj = sb.alias),
nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
sd AS (SELECT node FROM nd ORDER BY node LIMIT {PPR_SEEDS}),
scnt AS (SELECT CAST(count(*) AS BIGINT) AS ns,
                (CAST(1000000000 AS BIGINT) * 15) // (100 * CAST(count(*) AS BIGINT)) AS base
         FROM sd),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM ed GROUP BY src),
pp0 AS (SELECT nd.node,
               CASE WHEN sd.node IS NOT NULL THEN 1000000000 // scnt.ns ELSE 0 END AS rank_i
        FROM nd LEFT JOIN sd ON sd.node = nd.node CROSS JOIN scnt),
{_sql_ppr_iter('pp0', 'pp1')},
{_sql_ppr_iter('pp1', 'pp2')},
{_sql_ppr_iter('pp2', 'pp3')},
{_sql_ppr_iter('pp3', 'pp4')},
{_sql_ppr_iter('pp4', 'pp5')}
SELECT node, CAST(rank_i AS DOUBLE) / 1000000000.0 AS rank FROM pp5"""


TREACH_SEEDS = 2
TREACH_ROUNDS = 3


def q_kg_temporal_reach(spark, sf_dir):
    """Time-respecting reachability over the timestamped KG
    (operators/graph.temporal_reach): an edge may only be traversed at
    or AFTER arrival at its source — static reachability overcounts by
    following edges that happened before you got there.  Seeds = the 2
    lexicographically-smallest entity nodes at time 0; 3 bounded hops
    (unrolled-CTE convention); output = earliest arrival epoch per
    reached node."""
    from arabicner_spark.operators.graph import temporal_reach

    edges = (
        kg_prefix(spark, sf_dir, "edges", ts=True)
        .select("src", "dst", "ts_epoch")
        # materialized once: seeds AND the operator's edge checkpoint
        # both consume it — without this the NER chain replays twice
        .localCheckpoint(eager=True)
    )
    return temporal_reach(edges, _seed_nodes(edges, TREACH_SEEDS), rounds=TREACH_ROUNDS)


def _sql_treach_iter(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT node, CAST(min(first_reach) AS BIGINT) AS first_reach FROM (
    SELECT node, first_reach FROM {prev}
    UNION ALL
    SELECT e.dst AS node, e.t AS first_reach
    FROM {prev} p JOIN ted e ON e.src = p.node AND e.t >= p.first_reach
  ) GROUP BY node
)"""


SQL_KG_TEMPORAL_REACH = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
ted AS (SELECT DISTINCT sa.entity_id AS src, sb.entity_id AS dst,
               CAST(t.ts_epoch AS BIGINT) AS t
        FROM tri JOIN alias_best sa ON tri.subj = sa.alias
                 JOIN alias_best sb ON tri.obj = sb.alias
                 JOIN t ON t.conv_id = tri.conv_id AND t.turn_idx = tri.turn_idx),
tnd AS (SELECT src AS node FROM ted UNION SELECT dst FROM ted),
tr0 AS (SELECT node, CAST(0 AS BIGINT) AS first_reach
        FROM tnd ORDER BY node LIMIT {TREACH_SEEDS}),
{_sql_treach_iter('tr0', 'tr1')},
{_sql_treach_iter('tr1', 'tr2')},
{_sql_treach_iter('tr2', 'tr3')}
SELECT node, first_reach FROM tr3"""


# --- knowledge fusion + negative sampling (post-extraction KG steps) -
_SQL_EDGE_OCC = """occ AS (
  SELECT sa.entity_id AS src, tri.pred, sb.entity_id AS dst
  FROM tri JOIN alias_best sa ON tri.subj = sa.alias
           JOIN alias_best sb ON tri.obj = sb.alias
)"""


def _kg_edge_occurrences(spark, sf_dir):
    """Canonical edges, one row PER SUPPORTING OCCURRENCE (q_kg_edges
    without the final distinct — occurrences are fusion's votes)."""
    return kg_prefix(spark, sf_dir, "edges").select("src", "pred", "dst")


def q_kg_fact_fusion(spark, sf_dir):
    """Conflicting-fact resolution (operators/fusion.fuse_facts):
    different conversations assert different objects for the same
    (subject, predicate); fusion keeps the winner by support count
    ((count desc, dst asc) total tie order) plus the support/total
    evidence a consumer thresholds on.  One count agg + one arg-min
    struct agg — no window, no self-join."""
    from arabicner_spark.operators.fusion import fuse_facts

    return fuse_facts(_kg_edge_occurrences(spark, sf_dir))


SQL_KG_FACT_FUSION = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
{_SQL_EDGE_OCC},
sup AS (
  SELECT src, pred, dst, CAST(count(*) AS BIGINT) AS support
  FROM occ GROUP BY src, pred, dst
),
win AS (
  SELECT src, pred, dst, support,
         CAST(sum(support) OVER (PARTITION BY src, pred) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY src, pred) AS INTEGER) AS n_alternatives,
         row_number() OVER (PARTITION BY src, pred ORDER BY support DESC, dst ASC) AS rn
  FROM sup
)
SELECT src, pred, dst, support, total,
       round(support / total, 4) AS share, n_alternatives
FROM win WHERE rn = 1"""


NEG_SAMPLES_K = 2


def q_kg_negative_samples(spark, sf_dir):
    """Filtered corrupt-tail negative sampling for KG-embedding
    training (operators/fusion.negative_samples): per distinct
    positive triple and sample index j, the corrupted tail is the
    entity at md5("j|src|pred|dst") mod |E| in the sorted entity
    vocabulary; candidates that collide with a true positive are
    DROPPED (filtered negatives), so every emitted row is a certified
    false triple.  Entity vocab is dimension-sized (broadcast); the
    data-sized work is one projection + one anti-join."""
    from arabicner_spark.operators.fusion import negative_samples

    return negative_samples(_kg_edge_occurrences(spark, sf_dir), k=NEG_SAMPLES_K)


SQL_KG_NEGATIVE_SAMPLES = f"""WITH {_SQL_T}, {_SQL_MEN}, {_SQL_TRI}, {_SQL_ALIAS},
{_SQL_EDGE_OCC},
pos AS (SELECT DISTINCT src, pred, dst FROM occ),
ents AS (
  SELECT entity, CAST(row_number() OVER (ORDER BY entity) - 1 AS BIGINT) AS idx
  FROM (SELECT src AS entity FROM pos UNION SELECT dst FROM pos)
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_ents FROM ents),
draws AS (
  SELECT src, pred, dst, CAST(t.j AS INTEGER) AS j,
         CAST(('0x' || substr(md5(CAST(t.j AS VARCHAR) || '|' || src || '|'
               || pred || '|' || dst), 1, 8)) AS BIGINT) % n_ents AS idx
  FROM pos, unnest([1, 2]) AS t(j), ne
),
cand AS (
  SELECT d.src, d.pred, d.dst, d.j, e.entity AS neg_dst
  FROM draws d JOIN ents e ON e.idx = d.idx
)
SELECT c.src, c.pred, c.dst, c.j, c.neg_dst
FROM cand c LEFT JOIN pos p
  ON p.src = c.src AND p.pred = c.pred AND p.dst = c.neg_dst
WHERE p.src IS NULL"""


# --- z-order layout + Bloom pre-join (scan/join pruning family) ------
ZO_BITS_UB = 6   # user bucket: user_id % 64
ZO_BITS_HR = 5   # hour-of-day 0..23
ZO_FILES = 16


def q_layout_zorder(spark, sf_dir):
    """Z-order vs linear layout, as oracle-gated pruning evidence
    (operators/layout.py): bucketize events into (user_bucket 6 bits,
    hour-of-day 5 bits), Morton-interleave the bits, slice the key
    space into 16 equal-width files, and emit each file's row count +
    per-dim min/max bounding box for BOTH layouts.  Under 'linear'
    (ordered by user_bucket alone) every file spans the full hour
    extent — a time predicate prunes nothing; under 'zorder' both
    dims stay tight per file.  Pure integer bit arithmetic, so the
    DuckDB oracle matches by value hash."""
    from arabicner_spark.operators.layout import zorder_file_stats

    e = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 64).cast("long").alias("ub"),
        F.hour("ts").cast("long").alias("hr"),
    )
    return zorder_file_stats(e, [("ub", ZO_BITS_UB), ("hr", ZO_BITS_HR)], ZO_FILES)


def _sql_zvalue(c0: str, c1: str, bits: int) -> str:
    """Morton interleave in portable SQL arithmetic: bit (b*2+i) of z
    is bit b of column i."""
    terms = []
    for b in range(bits):
        terms.append(f"((({c0} >> {b}) & 1) << {b * 2})")
        terms.append(f"((({c1} >> {b}) & 1) << {b * 2 + 1})")
    return " + ".join(terms)


SQL_LAYOUT_ZORDER = f"""WITH e AS (
  SELECT CAST(user_id % 64 AS BIGINT) AS ub,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr
  FROM events
),
tagged AS (
  SELECT ub, hr,
         CAST(({_sql_zvalue('ub', 'hr', 6)}) // {(2 ** 12 + ZO_FILES - 1) // ZO_FILES} AS INTEGER) AS zfile,
         CAST(ub // {(2 ** 6 + ZO_FILES - 1) // ZO_FILES} AS INTEGER) AS lfile
  FROM e
)
SELECT 'zorder' AS layout, zfile AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
       min(ub) AS min_ub, max(ub) AS max_ub, min(hr) AS min_hr, max(hr) AS max_hr
FROM tagged GROUP BY zfile
UNION ALL
SELECT 'linear', lfile, CAST(count(*) AS BIGINT),
       min(ub), max(ub), min(hr), max(hr)
FROM tagged GROUP BY lfile"""


BLOOM_HASHES = 5
BLOOM_MBITS = 8192


def q_rel_bloom_prejoin(spark, sf_dir):
    """Explicit runtime join filter (functions/bloom.py): Bloom-filter
    orders' o_custkey against the ~10% of customers with
    c_acctbal > 9000, then count — per order priority — total orders,
    bloom-passing orders, exact semi-join matches, and false
    positives.  The md5 hash family makes every pass/fail decision
    portable, so selectivity AND the false-positive count are
    oracle-gated numbers rather than probabilistic claims.  Plan
    shape: the bit table (<= 8192 rows) broadcasts; the fact table is
    never shuffled to evaluate the filter."""
    from arabicner_spark.functions.bloom import bloom_bits, bloom_probe

    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    bits = bloom_bits(cust, "c_custkey", BLOOM_HASHES, BLOOM_MBITS)
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    probe = bloom_probe(orders, "o_custkey", bits, BLOOM_HASHES, BLOOM_MBITS)
    exact = cust.select(F.col("c_custkey").alias("key"), F.lit(1).alias("exact"))
    j = (
        orders.join(probe, orders["o_custkey"] == probe["key"])
        .drop("key")
        .join(F.broadcast(exact), orders["o_custkey"] == exact["key"], "left")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("bloom_pass_orders"),
        F.sum(F.when(F.col("exact") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("exact_orders"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("exact").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_pos_orders"),
    )


_SQL_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || '|' "
    "|| CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % " + str(BLOOM_MBITS)
)

SQL_REL_BLOOM_PREJOIN = f"""WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 9000
),
bits AS (
  SELECT DISTINCT {_SQL_BLOOM_POS.format(j='t.j', key='c_custkey')} AS pos
  FROM dim, unnest([1, 2, 3, 4, 5]) AS t(j)
),
fkeys AS (SELECT DISTINCT o_custkey AS key FROM orders),
probes AS (
  SELECT key, {_SQL_BLOOM_POS.format(j='t.j', key='key')} AS pos
  FROM fkeys, unnest([1, 2, 3, 4, 5]) AS t(j)
),
hits AS (
  SELECT p.key, count(*) = count(b.pos) AS bloom_pass
  FROM probes p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.key
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN h.bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pass_orders,
       CAST(sum(CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_orders,
       CAST(sum(CASE WHEN h.bloom_pass AND d.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos_orders
FROM orders o
JOIN hits h ON h.key = o.o_custkey
LEFT JOIN dim d ON d.c_custkey = o.o_custkey
GROUP BY o.o_orderpriority"""


# --- true k-core (fixpoint peel) -------------------------------------
# Chain fixture: a 40-node path glued onto the co-activity graph at
# disjoint node ids.  A path is THE adversarial input for bounded
# peeling: each round only erodes its two endpoints, so kcore(rounds=3)
# keeps 34 interior nodes that are NOT in any 2-core, while the
# fixpoint dissolves the whole chain (~20 rounds).  Measured
# convergence with this fixture: 21 rounds at sf0.001/0.01/0.1 (the
# chain dominates; the co-activity graph alone stabilizes in <6), so
# the 22-round unrolled oracle is past the fixpoint at every sf.
KCORE_CHAIN_BASE = 1_000_000_000  # far above any events.user_id
KCORE_CHAIN_LEN = 40
_KCORE_FIXPOINT_UNROLL = 22

# each round references the previous survivor set TWICE (both join
# sides) — without MATERIALIZED, DuckDB's CTE inlining doubles the
# plan per round (2^22 scans of events: "Too many open files")
_SQL_KCORE_ROUND_MAT = """e{r} AS MATERIALIZED (
  SELECT x.node, x.peer FROM adjx x
  JOIN n{p} a ON a.node = x.node JOIN n{p} b ON b.node = x.peer
),
d{r} AS MATERIALIZED (SELECT node, count(*) AS deg FROM e{r} GROUP BY node),
n{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= 2)"""


def q_graph_kcore_fixpoint(spark, sf_dir):
    """TRUE 2-core (operators/graph.kcore_fixpoint): peel until the
    survivor count is stable (the r6 answer to the r5 verdict's
    'bounded 3-round peel returns a superset on deep peeling chains').
    Input = co-activity graph + the 40-node chain fixture that forces
    deep peeling; output = fixpoint survivors + degree.  Convergence
    is the operator's own count-stability signal; the oracle unrolls
    the peel PAST the measured fixpoint, where extra rounds are
    no-ops, so iterate-until-stable == fixed-depth CTE exactly."""
    from arabicner_spark.operators.graph import kcore_fixpoint

    co = _coactivity_edges(spark, sf_dir)
    chain = spark.range(KCORE_CHAIN_LEN - 1).select(
        (F.col("id") + KCORE_CHAIN_BASE).alias("src"),
        (F.col("id") + KCORE_CHAIN_BASE + 1).alias("dst"),
    )
    surv, _rounds = kcore_fixpoint(co.unionByName(chain), k=2, max_rounds=64)
    return surv


SQL_GRAPH_KCORE_FIXPOINT = f"""WITH {_SQL_COACT},
chain AS (
  SELECT CAST({KCORE_CHAIN_BASE} + i AS BIGINT) AS a,
         CAST({KCORE_CHAIN_BASE} + i + 1 AS BIGINT) AS b
  FROM unnest(generate_series(0, {KCORE_CHAIN_LEN - 2})) AS t(i)
),
allund AS (SELECT a, b FROM cound UNION ALL SELECT a, b FROM chain),
adjx AS MATERIALIZED (SELECT a AS node, b AS peer FROM allund
         UNION ALL SELECT b, a FROM allund),
n0 AS MATERIALIZED (SELECT DISTINCT node FROM adjx),
{",".join(_SQL_KCORE_ROUND_MAT.format(r=r, p=r - 1) for r in range(1, _KCORE_FIXPOINT_UNROLL + 1))}
SELECT d{_KCORE_FIXPOINT_UNROLL}.node, CAST(d{_KCORE_FIXPOINT_UNROLL}.deg AS INTEGER) AS deg
FROM d{_KCORE_FIXPOINT_UNROLL} WHERE d{_KCORE_FIXPOINT_UNROLL}.deg >= 2"""


# Arabic snippets with the foldable phenomena (tashkeel, hamza-alef
# variants, madda, alef wasla, dagger alef, taa marbuta, alef maqsura,
# tatweel) + an empty branch so the no-injection path stays live.
_AR_SNIPPETS = [
    "قَـالَ الرَّئِيسُ إِنَّ",
    "إِلَى المَكْتَبَةِ الكُبْرَى",
    "عَلَىٰ أَمْرٍ آخَرَ",
    "شَيْءٌ ٱسْتِثْنَائِيٌّ ؤمّة",
    "",
]


def q_text_arabic_normalize(spark, sf_dir):
    """Arabic surface normalization (functions/normalize.py — the
    folding the entity-linking stage applies before alias joins) under
    its own direct oracle: deterministic Arabic suffixes with every
    foldable phenomenon are injected per doc_id (the corpus text is
    ASCII), then normalize_col runs and the oracle replays the
    identical translate+lower in DuckDB (PostgreSQL-semantics
    translate deletes unpaired source chars in both engines).
    n_stripped counts removed codepoints — nonzero on every injected
    branch, pinning that each phenomenon actually fires."""
    from arabicner_spark.functions.normalize import normalize_col

    d = load(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _AR_SNIPPETS]),
        (F.pmod(F.col("doc_id"), F.lit(len(_AR_SNIPPETS))) + 1).cast("int"),
    )
    aug = F.concat(
        F.col("text"),
        F.when(suffix != "", F.concat(F.lit(" "), suffix)).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        normalize_col(aug).alias("norm"),
        (F.length(aug) - F.length(normalize_col(aug))).cast("int").alias("n_stripped"),
    )


def _sql_arabic_normalize() -> str:
    from arabicner_spark.functions.normalize import _DELETE, _FOLD_DST, _FOLD_SRC

    cases = " ".join(
        f"WHEN {i} THEN ' ' || '{s}'" for i, s in enumerate(_AR_SNIPPETS) if s
    )
    return f"""WITH a AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % {len(_AR_SNIPPETS)} AS INTEGER)
                 {cases} ELSE '' END AS aug
  FROM documents
)
SELECT doc_id,
       lower(translate(aug, '{_FOLD_SRC + _DELETE}', '{_FOLD_DST}')) AS norm,
       CAST(length(aug)
            - length(lower(translate(aug, '{_FOLD_SRC + _DELETE}', '{_FOLD_DST}')))
            AS INTEGER) AS n_stripped
FROM a"""


SQL_TEXT_ARABIC_NORMALIZE = _sql_arabic_normalize()


def q_sketch_heavy_hitters(spark, sf_dir):
    """Exact phi-heavy hitters (functions/sketches.heavy_hitters_exact)
    over a skew-planted key: ~30% of events collapse onto 'HOT', the
    rest stay per-user (~0.7% each), so s=20 keeps exactly the planted
    hitter and filters the long tail — non-vacuous at every sf.  Two
    map-side-combinable aggregates + a one-row broadcast."""
    from arabicner_spark.functions.sketches import heavy_hitters_exact

    e = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 3, F.lit("HOT"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("hk")
    )
    return heavy_hitters_exact(e, "hk", s=20)


SQL_SKETCH_HEAVY_HITTERS = """WITH v AS (
  SELECT CASE WHEN user_id % 10 < 3 THEN 'HOT'
              ELSE CAST(user_id AS VARCHAR) END AS val
  FROM events
),
c AS (SELECT val, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY val),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
SELECT c.val, c.cnt, round(c.cnt / t.n, 4) AS share
FROM c, t WHERE c.cnt * 20 > t.n"""


# Registry ORDER is the driver-gate rotation mechanism: the driver
# evaluates exactly the first 50 entries each round.  Window policy
# (COVERAGE.md "Driver-gate rotation ledger"): never-driver-green +
# new + changed-this-round queries sit in positions 1-50; veterans
# with multiple prior driver greens rotate to the alphabetical tail.
# r7 window (optimization round — no new queries; "changed" = the
# query's own body or a function on its execution path was edited):
#   * 32 CHANGED-in-r7 queries: the Arrow/bucket-verified
#     dedup_embedding; the distinct-fused minhash family
#     (dedup_minhash_lsh, dedup_jaccard, kg_components,
#     dedup_survivors, dedup_incremental, text_fingerprint, link_fuzzy
#     — hashing.py + incremental.py); width-pinned dedup_substring(+
#     apply); the delta/local-peel graph family (graph_kcore,
#     graph_kcore_fixpoint, kg_label_prop) + seed-intersected
#     kg_pagerank_personalized + prefix-checkpointed kg_temporal_reach;
#     checkpoint-fixed kg_negative_samples (+ kg_fact_fusion,
#     fusion.py); Arrow-pass ann_pq; collision-guarded bpe_pair_counts;
#     main-ref-tagged snapshot_time_travel (io.py); null-counting
#     sketch_heavy_hitters; and the tempdir-reclaimed gate queries
#     (stream_kg_triples, stream_conv_totals, stream_mention_rate,
#     stream_sessions, stream_join_enrich, stream_dedup,
#     stream_idempotent_sink, corpus_pipeline, compact_roundtrip,
#     conll_roundtrip, tsv_process) — 32 — PLUS the 6 late-r7 width
#     pins and their consumers: text_repetition, dedup_simhash,
#     text_urls (scan-width pins in their bodies) and graph_triangles,
#     graph_bfs, graph_jaccard (the shared _coactivity_edges build
#     gained a width pin) — 38 changed total.
#   * layout_zorder + rel_bloom_prejoin (single-driver-green r6
#     entrants staying seated).
#   * 10 of the 13 remaining r6-rotated-out two-green veterans
#     cycling back per the ledger rule (eval_nested_report,
#     rel_session_window, funnel, cohort_retention, stats_outliers,
#     cdc_apply, json_props, text_tfidf, rel_moving_avg, rel_scd2);
#     rel_pivot, rel_unpivot, rel_rank_funcs (also two-green,
#     untouched) DEFER one round — the 38 changed queries fill the
#     window first.  The other four of the r6 seventeen
#     (stream_conv_totals, stream_mention_rate, stream_sessions,
#     link_fuzzy) re-enter as changed-in-r7 above.
# Rotated OUT to the tail (all multi-green, functions untouched in
# r7): kg_edges, kg_mentions_bio, kg_triples, kg_linked, kg_nodes,
# kg_pagerank (graph.py's pagerank_exact unchanged — the r6
# function-granularity precedent), text_pii_scrub, rel_asof_click,
# dedup_exact, pack_sequences, split_three_way, sample_mixture,
# text_arabic_normalize, rel_gap_fill, text_subword_counts, mm_resize,
# sketch_kmv_distinct, sketch_kmv_by_flag, sketch_hist_quantile
# (kmv/histogram functions untouched; the heavy-hitters query IS
# seated), ann_ivf, ann_recall, ann_kmeans_refine.
QUERIES: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD),
    "kg_components": (q_kg_components, SQL_KG_COMPONENTS),
    "dedup_survivors": (q_dedup_survivors, SQL_DEDUP_SURVIVORS),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_SURVIVORS),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "dedup_substring_apply": (q_dedup_substring_apply, SQL_DEDUP_SUBSTRING_APPLY),
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
    "graph_kcore_fixpoint": (q_graph_kcore_fixpoint, SQL_GRAPH_KCORE_FIXPOINT),
    "kg_label_prop": (q_kg_label_prop, SQL_KG_LABEL_PROP),
    "kg_pagerank_personalized": (q_kg_pagerank_personalized, SQL_KG_PAGERANK_PERSONALIZED),
    "kg_temporal_reach": (q_kg_temporal_reach, SQL_KG_TEMPORAL_REACH),
    "kg_negative_samples": (q_kg_negative_samples, SQL_KG_NEGATIVE_SAMPLES),
    "ann_pq": (q_ann_pq, SQL_ANN_PQ),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "snapshot_time_travel": (q_snapshot_time_travel, SQL_SNAPSHOT_TIME_TRAVEL),
    "sketch_heavy_hitters": (q_sketch_heavy_hitters, SQL_SKETCH_HEAVY_HITTERS),
    "stream_kg_triples": (q_stream_kg_triples, SQL_KG_TRIPLES),
    "corpus_pipeline": (q_corpus_pipeline, SQL_CORPUS_PIPELINE),
    "compact_roundtrip": (q_compact_roundtrip, SQL_COMPACT_ROUNDTRIP),
    "conll_roundtrip": (q_conll_roundtrip, SQL_CONLL_ROUNDTRIP),
    "tsv_process": (q_tsv_process, SQL_TSV_PROCESS),
    "stream_conv_totals": (q_stream_conv_totals, SQL_STREAM_CONV_TOTALS),
    "stream_mention_rate": (q_stream_mention_rate, SQL_STREAM_MENTION_RATE),
    "stream_sessions": (q_stream_sessions, SQL_STREAM_SESSIONS),
    "stream_join_enrich": (q_stream_join_enrich, SQL_STREAM_JOIN_ENRICH),
    "stream_dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "stream_idempotent_sink": (q_stream_idempotent_sink, SQL_STREAM_IDEMPOTENT_SINK),
    "link_fuzzy": (q_link_fuzzy, SQL_LINK_FUZZY),
    "kg_fact_fusion": (q_kg_fact_fusion, SQL_KG_FACT_FUSION),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "text_urls": (q_text_urls, SQL_TEXT_URLS),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_bfs": (q_graph_bfs, SQL_GRAPH_BFS),
    "graph_jaccard": (q_graph_jaccard, SQL_GRAPH_JACCARD),
    "layout_zorder": (q_layout_zorder, SQL_LAYOUT_ZORDER),
    "rel_bloom_prejoin": (q_rel_bloom_prejoin, SQL_REL_BLOOM_PREJOIN),
    "eval_nested_report": (q_eval_nested_report, SQL_EVAL_NESTED_REPORT),
    "rel_session_window": (q_rel_session_window, SQL_REL_SESSION_WINDOW),
    "funnel": (q_funnel, SQL_FUNNEL),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "stats_outliers": (q_stats_outliers, SQL_STATS_OUTLIERS),
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "json_props": (q_json_props, SQL_JSON_PROPS),
    "text_tfidf": (q_text_tfidf, SQL_TEXT_TFIDF),
    "rel_moving_avg": (q_rel_moving_avg, SQL_REL_MOVING_AVG),
    "rel_scd2": (q_rel_scd2, SQL_REL_SCD2),
    # ---- alphabetical tail: settled veterans (driver greens on file) ----
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "ann_kmeans_refine": (q_ann_kmeans, SQL_ANN_KMEANS),
    "ann_lsh_bucketed": (q_ann_lsh_bucketed, SQL_ANN_LSH),
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
    "contamination": (q_contamination, SQL_CONTAMINATION),
    "corpus_keep_decision": (q_corpus_keep_decision, SQL_CORPUS_KEEP),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "eval_per_type_prf": (q_eval_per_type_prf, SQL_EVAL_PER_TYPE_PRF),
    "eval_predictions_lines": (q_eval_predictions_lines, SQL_EVAL_PREDICTIONS),
    "kg_conv_profile": (q_kg_conv_profile, SQL_KG_CONV_PROFILE),
    "kg_degrees": (q_kg_degrees, SQL_KG_DEGREES),
    "kg_edges": (q_kg_edges, SQL_KG_EDGES),
    "kg_linked": (q_kg_linked, SQL_KG_LINKED),
    "kg_mentions": (q_kg_mentions, SQL_KG_MENTIONS),
    "kg_mentions_bio": (q_kg_mentions_bio, SQL_KG_MENTIONS_BIO),
    "kg_mentions_flat": (q_kg_mentions_flat, SQL_KG_MENTIONS_FLAT),
    "kg_nested_mentions": (q_kg_nested_mentions, SQL_KG_NESTED),
    "kg_nodes": (q_kg_nodes, SQL_KG_NODES),
    "kg_pagerank": (q_kg_pagerank, SQL_KG_PAGERANK),
    "kg_temporal_edges": (q_kg_temporal_edges, SQL_KG_TEMPORAL),
    "kg_top_surfaces": (q_kg_top_surfaces, SQL_KG_TOP_SURFACES),
    "kg_transcripts": (q_kg_transcripts, SQL_KG_TRANSCRIPTS),
    "kg_triples": (q_kg_triples, SQL_KG_TRIPLES),
    "kg_turn_stats": (q_kg_turn_stats, SQL_KG_TURN_STATS),
    "mm_frame_sample": (q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
    "mm_meta": (q_mm_meta, SQL_MM_META),
    "mm_resize": (q_mm_resize, SQL_MM_RESIZE),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "rel_asof_click": (q_rel_asof_click, SQL_REL_ASOF_CLICK),
    "rel_cube": (q_rel_cube, SQL_REL_CUBE),
    "rel_customers_no_orders": (q_rel_customers_no_orders, SQL_REL_NO_ORDERS),
    "rel_event_sessions": (q_rel_event_sessions, SQL_REL_EVENT_SESSIONS),
    "rel_gap_fill": (q_rel_gap_fill, SQL_REL_GAP_FILL),
    "rel_hourly_events": (q_rel_hourly_events, SQL_REL_HOURLY),
    "rel_hypertable_daily": (q_rel_hypertable_daily, SQL_REL_HYPERTABLE_DAILY),
    "rel_lineitem_agg": (q_rel_lineitem_agg, SQL_REL_LINEITEM_AGG),
    "rel_pivot": (q_rel_pivot, SQL_REL_PIVOT),
    "rel_range_windows": (q_rel_range_windows, SQL_REL_RANGE_WINDOWS),
    "rel_rank_funcs": (q_rel_rank_funcs, SQL_REL_RANK_FUNCS),
    "rel_region_rollup": (q_rel_region_rollup, SQL_REL_REGION_ROLLUP),
    "rel_top_customers": (q_rel_top_customers, SQL_REL_TOP_CUSTOMERS),
    "rel_unpivot": (q_rel_unpivot, SQL_REL_UNPIVOT),
    "rel_value_quantiles": (q_rel_value_quantiles, SQL_REL_QUANTILES),
    "sample_mixture": (q_sample_mixture, SQL_SAMPLE_MIXTURE),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "sample_weighted": (q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sketch_hist_quantile": (q_sketch_hist_quantile, SQL_SKETCH_HIST_QUANTILE),
    "sketch_kmv_by_flag": (q_sketch_kmv_by_flag, SQL_SKETCH_KMV_BY_FLAG),
    "sketch_kmv_distinct": (q_sketch_kmv_distinct, SQL_SKETCH_KMV),
    "split_three_way": (q_split_three_way, SQL_SPLIT_THREE_WAY),
    "text_arabic_normalize": (q_text_arabic_normalize, SQL_TEXT_ARABIC_NORMALIZE),
    "text_bigrams": (q_text_bigrams, SQL_TEXT_BIGRAMS),
    "text_langid": (q_text_langid, SQL_TEXT_LANGID),
    "text_pii_scrub": (q_text_pii_scrub, SQL_TEXT_PII_SCRUB),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_subword_counts": (q_text_subword_counts, SQL_TEXT_SUBWORD_COUNTS),
    "text_tokens": (q_text_tokens, SQL_TEXT_TOKENS),
    "text_top_tokens": (q_text_top_tokens, SQL_TEXT_TOP_TOKENS),
    "vocab_tag_levels": (q_vocab_tag_levels, SQL_VOCAB_TAG_LEVELS),
    "vocab_tokens": (q_vocab_tokens, SQL_VOCAB_TOKENS),
}
