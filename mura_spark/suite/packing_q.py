"""Sequence-packing queries over the documents table (north-star extension:
the layout step of a training-data pipeline). Spark side is
mura_spark.operators.packing; oracles render the identical integer
arithmetic — a window + generate_series for concat-and-chunk, a recursive
CTE walking each shard in document order for whole-doc next-fit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.functions import text as TX
from mura_spark.operators import packing
from mura_spark.suite.common import registry, sql_hash48, sql_tokens, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


_BUDGET = 256
_SHARDS = 8

#: (doc_id, sz, shard) base: token count + portable md5-derived shard
_BASE_CTE = (
    f"SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS sz, "
    f"{sql_hash48('CAST(doc_id AS VARCHAR)')} % {_SHARDS} AS shard "
    "FROM documents WHERE text IS NOT NULL")


def _sized_docs(spark, sf):
    return (table(spark, sf, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", TX.token_count(F.col("text")).alias("sz")))


@q("pack_train_chunks",
   f"WITH t AS MATERIALIZED ({_BASE_CTE}), "
   "o AS (SELECT doc_id, shard, sz, "
   "CAST(SUM(sz) OVER (PARTITION BY shard ORDER BY doc_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - sz "
   "AS off FROM t), "
   "p AS (SELECT doc_id, shard, sz, off, "
   f"unnest(generate_series(off // {_BUDGET}, "
   f"greatest((off + sz - 1) // {_BUDGET}, off // {_BUDGET}))) AS chunk_id "
   "FROM o) "
   "SELECT doc_id, shard, chunk_id, "
   f"greatest(chunk_id * {_BUDGET} - off, 0) AS tok_start, "
   f"least((chunk_id + 1) * {_BUDGET} - off, sz) AS tok_end FROM p")
def pack_train_chunks(spark, sf):
    """Concat-and-chunk packing (pretraining layout): each document's token
    span mapped onto the fixed-budget chunks of its shard's stream."""
    return packing.pack_chunks(_sized_docs(spark, sf), "doc_id", "sz",
                               budget=_BUDGET, n_shards=_SHARDS)


@q("pack_train_greedy",
   f"WITH RECURSIVE t AS MATERIALIZED ({_BASE_CTE}), "
   "s AS MATERIALIZED (SELECT doc_id, sz, shard, "
   "ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t), "
   "p AS ("
   "  SELECT shard, rn, doc_id, sz, sz AS seq_fill, "
   "  CAST(0 AS BIGINT) AS seq_id FROM s WHERE rn = 1 "
   "  UNION ALL "
   "  SELECT s.shard, s.rn, s.doc_id, s.sz, "
   f"  CASE WHEN p.seq_fill + s.sz > {_BUDGET} THEN s.sz "
   "       ELSE p.seq_fill + s.sz END, "
   f"  CASE WHEN p.seq_fill + s.sz > {_BUDGET} THEN p.seq_id + 1 "
   "       ELSE p.seq_id END "
   "  FROM s JOIN p ON s.shard = p.shard AND s.rn = p.rn + 1) "
   "SELECT doc_id, shard, seq_id, seq_fill FROM p")
def pack_train_greedy(spark, sf):
    """Whole-document next-fit packing (fine-tuning layout): documents
    accumulate into a sequence until the next one would overflow the
    budget; oracle is a recursive CTE replaying the same in-order walk."""
    return packing.pack_greedy(_sized_docs(spark, sf), "doc_id", "sz",
                               budget=_BUDGET, n_shards=_SHARDS)


#: sized so the fixtures (10-99 tokens/doc) genuinely split: 32-token
#: windows, 24-token stride → 1-4 chunks per document.
_CHUNK, _OVERLAP = 32, 8

@q("pack_chunk_overlap",
   f"WITH t AS (SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) "
   "AS sz FROM documents WHERE text IS NOT NULL), "
   "p AS (SELECT doc_id, sz, unnest(generate_series(0, "
   f"CASE WHEN sz <= {_CHUNK} THEN 0 "
   f"ELSE (sz - {_CHUNK} + {_CHUNK - _OVERLAP} - 1) // {_CHUNK - _OVERLAP} "
   "END)) AS chunk_idx FROM t) "
   f"SELECT doc_id, chunk_idx, chunk_idx * {_CHUNK - _OVERLAP} AS tok_start, "
   f"least(chunk_idx * {_CHUNK - _OVERLAP} + {_CHUNK}, sz) AS tok_end FROM p")
def pack_chunk_overlap(spark, sf):
    """Sliding-window chunking with overlap (retrieval / long-doc layout):
    fixed 32-token windows, 24-token stride, last window clamped to the
    document end. Row-local explode — no shuffle at any scale."""
    return packing.chunk_overlap(_sized_docs(spark, sf), "doc_id", "sz",
                                 chunk=_CHUNK, overlap=_OVERLAP)


@q("pack_token_shards",
   f"WITH t AS (SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) "
   "AS n_tokens FROM documents WHERE text IS NOT NULL), "
   "o AS (SELECT doc_id, n_tokens, CAST(coalesce(SUM(n_tokens) OVER ("
   "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
   "AS BIGINT) AS stream_start FROM t) "
   "SELECT doc_id, n_tokens, "
   f"stream_start // {_BUDGET * 4} AS shard_id FROM o")
def pack_token_shards(spark, sf):
    """Global training-shard planning: cut the corpus-wide doc_id-ordered
    token stream every 1024 tokens. The oracle states the semantics as the
    classic global window (fine in DuckDB); the Spark side computes the
    SAME prefix sum via bounded key-range buckets + per-bucket windows
    (operators.packing.global_stream_offsets) because a global ORDER BY
    window is a one-task bottleneck on a real cluster."""
    d = _sized_docs(spark, sf)
    return packing.assign_token_shards(d, "doc_id", "sz",
                                       budget=_BUDGET * 4, n_buckets=16)


# -------------------------------------------------------- round-8b addition

#: The first 24 BPE merges the deterministic trainer learns from each
#: test corpus (num_merges=24, max_words=50k) — the recorded-golden
#: oracle below replays the right table by corpus identity. The
#: trainer is fully deterministic (lexicographic tie-breaks, bounded
#: freq-then-word-ordered vocab), so each table is a FIXED function of
#: its corpus; recorded 2026-08-16 from operators/bpe.py train_bpe.
#: Keyed on SUM(n_chars) (doc COUNT collides: sf0.001 and sf0.01 both
#: hold 500 docs). A corpus not recorded here makes the oracle return
#: zero rows — a loud count mismatch, never a silent pass.
_BPE_GOLDEN = {
    # key = SUM(n_chars) of documents: sf0.001 / sf0.01 / sf0.1
    153156: [("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"),
             ("t", "</w>"), ("er", "</w>"), ("o", "w"), ("ow", "</w>"),
             ("l", "u"), ("i", "n"), ("y", "</w>"), ("a", "r"),
             ("p", "ar"), ("g", "</w>"), ("a", "s"), ("h", "</w>"),
             ("a", "</w>"), ("s", "t"), ("a", "t"), ("a", "n</w>"),
             ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
             ("co", "lu")],
    149174: [("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
             ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
             ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
             ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
             ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
             ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"),
             ("h", "ash</w>")],
    1485576: [("e", "</w>"), ("e", "r"), ("i", "n"), ("o", "r"),
              ("s", "t"), ("er", "</w>"), ("o", "w"), ("ow", "</w>"),
              ("t", "a"), ("l", "u"), ("a", "r"), ("p", "ar"),
              ("n", "</w>"), ("g", "</w>"), ("t", "</w>"),
              ("h", "</w>"), ("y", "</w>"), ("p", "</w>"),
              ("u", "p</w>"), ("k", "</w>"), ("par", "k</w>"),
              ("s", "park</w>"), ("d", "ow</w>"),
              ("in", "dow</w>")],
}


@q("bpe_top_merges",
   "SELECT rank, left_sym, right_sym FROM (VALUES "
   + ", ".join(
       f"(CAST({key} AS BIGINT), CAST({r} AS BIGINT), "
       f"'{a.replace(chr(39), chr(39) * 2)}', "
       f"'{b.replace(chr(39), chr(39) * 2)}')"
       for key, merges in _BPE_GOLDEN.items()
       for r, (a, b) in enumerate(merges))
   + ") AS t(corpus_key, rank, left_sym, right_sym) "
   "WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)")
def bpe_top_merges(spark, sf):
    """The BPE tokenizer trainer's first 24 merges over the documents
    corpus — the driver row that takes operators/bpe.py out of
    pytest-only status. The corpus-scale pass is the distributed
    word-frequency aggregation; the merge loop runs on the driver over
    that bounded table (the standard two-phase trainer architecture,
    see the module docstring), so the result is a tiny model table,
    not data. The oracle is a RECORDED GOLDEN table (BPE's sequential
    merge recurrence is not reasonably SQL-expressible): the trainer
    is deterministic by construction — lexicographic tie-breaks,
    freq-then-word-ordered bounded vocab — so the merges are a fixed
    function of each corpus; the recording (one golden table per test
    SF, selected by corpus identity) pins the pretokenizer + frequency
    pass + merge loop end-to-end across rounds. tests/test_bpe.py
    holds the semantic (corpus-independent) pins."""
    from mura_spark.operators.bpe import train_bpe
    d = (table(spark, sf, "documents")
         .where(F.col("text").isNotNull()))
    merges = train_bpe(d, num_merges=24, max_words=50_000)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank bigint, left_sym string, right_sym string")
