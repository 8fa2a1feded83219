"""Shared constants and helpers for the training-data pipeline query
families (``dedup_q``, ``sim_q``, ``text_q``, ``tokpack_q``, ``mm_q``,
``corpus_misc_q``): dedup / similarity / text analysis over the
``documents`` and ``embeddings`` tables.

Oracles for MinHash/SimHash are *generated from the same constants* the
Spark operators use (llm/dedup.py), so the two sides cannot drift. The
shared 28-bit md5 hash contract is described in functions/text.py.

Thresholds are calibrated to the synthetic corpus (all-unique docs, max
3-gram Jaccard ≈ 0.037, max pairwise cosine ≈ 0.51) so results are
non-empty and the full candidate-generation + verification machinery is
exercised.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
import pandas as pd
from us_dot_flights_lakehouse_spark.llm import (
    curation,
    dedup,
    multimodal,
    similarity,
    textstats,
    tokenizer,
)
from us_dot_flights_lakehouse_spark.llm.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_PRIME,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from us_dot_flights_lakehouse_spark.functions.text import (
    hash28,
    shingles,
    tokenize,
)
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table


def _duck_doubles(vals) -> str:
    """DuckDB array<double> literal via per-element string parse: a bare
    numeric literal types as DECIMAL and double-rounds en route to
    DOUBLE (ULP drift vs the Spark-side `1.23D` literals); CAST from the
    shortest-repr string is correctly rounded — bit-identical."""
    return "[" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + "]"


# shared SQL fragments ------------------------------------------------------

_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


#: distinct 3-token shingles of the token array t (1-based list indexing)
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


_HASH28 = "('0x' || substr(md5({x}), 1, 7))::BIGINT"


_VEC_NORM = "sqrt(list_sum(list_transform(v, x -> x * x)))"


def _lsh_planes_sql(
    dim: int = 64, n_planes: int = similarity.LSH_PLANES, n_tables: int = 1
) -> str:
    """The deterministic hyperplane family as a DuckDB inline relation:
    one row per plane with its hash table id, bit weight, and double[]
    literal (table t uses family planes [t*n_planes, (t+1)*n_planes) —
    the lsh_bucket(first_plane=...) contract). Python's repr() is
    shortest-round-trip, so DuckDB parses the exact doubles Spark uses."""
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            j = t * n_planes + p
            lit = _duck_doubles(similarity._plane(j, dim))
            rows.append(
                f"SELECT {t} AS t, {2 ** p} AS w, {lit} AS plane"
            )
    return "\n  UNION ALL ".join(rows)


INCR_HISTORY_CUTOFF = 250


DD_INCR_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({{minhash_pairs}}),
hist_edges AS (
  SELECT doc_id_a AS x, doc_id_b AS y FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
),
hist_reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  WHERE doc_id < {INCR_HISTORY_CUTOFF}
  UNION
  SELECT r.src, e.y FROM hist_reach r JOIN hist_edges e ON r.dst = e.x
),
hist_labels AS (
  SELECT src AS hist_id, MIN(dst) AS hist_lbl FROM hist_reach GROUP BY src
),
batch_edges AS (
  SELECT doc_id_a AS x, doc_id_b AS y FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
),
batch_reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  WHERE doc_id >= {INCR_HISTORY_CUTOFF}
  UNION
  SELECT r.src, e.y FROM batch_reach r JOIN batch_edges e ON r.dst = e.x
),
batch_cc AS (
  SELECT src AS doc_id, MIN(dst) AS comp FROM batch_reach GROUP BY src
),
cross_links AS (
  SELECT doc_id_b AS batch_id, doc_id_a AS hist_id FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_a, doc_id_b FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
),
linked AS (
  SELECT bc.comp,
         CAST(MIN(hl.hist_lbl) AS BIGINT) AS min_hist_lbl,
         CAST(COUNT(DISTINCT hl.hist_lbl) AS BIGINT) AS n_hist
  FROM cross_links c
  JOIN hist_labels hl ON c.hist_id = hl.hist_id
  JOIN batch_cc bc ON c.batch_id = bc.doc_id
  GROUP BY bc.comp
)
SELECT b.doc_id,
       CAST(COALESCE(l.min_hist_lbl, b.comp) AS BIGINT) AS cluster_label,
       l.min_hist_lbl IS NOT NULL AS attached_to_history,
       CAST(COALESCE(l.n_hist, 0) AS BIGINT) AS n_history_clusters_touched
FROM batch_cc b LEFT JOIN linked l ON b.comp = l.comp
"""


FH_DIM = 64


#: lint rule bits (LSB first): empty turn, adjacent duplicate turns,
#: over budget, incomplete conversation, template-tag leakage
CHAT_LINT_BITS = 5
