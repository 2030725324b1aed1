"""Seeded input generation for the benchmark.

``write_tables`` writes the three catalog tables the ``curation``
queries read, at the fixtures' sf0.01 row counts (``scale``
multiplies them), under the data law of ``tools_gen_scale.py``:

- documents: ``tools_gen_scale._doc_text`` word salad (10-99
  hash-selected words over the fixture vocabulary), a 5% template
  slice holding ``n // 200`` shared templates (about 10 byte-identical
  copies each, the sf1/sf10/sf100 rule), lang hash-drawn from the
  en/en/en/zh/de mix, 20 sources;
- embeddings: ``tools_gen_scale._emb_df`` vectors, 64 hash-derived
  floats in [-1, 1) and 10 labels;
- customer: TPC-H shaped, ``Customer#<key>`` names.

The seed folds in as ``tools_gen_scale``'s key offset: seed ``s`` is
copy ``s`` of the law, every id (and every hash input derived from
it) shifted by ``s * rows``. So the same seed gives the same tables,
and another seed gives other text, vectors and keys with the same
row counts and duplicate structure. Documents and embeddings are
evaluated by Spark (the law is Spark's ``xxhash64``), in the run's
own session.

The ``elt_loop`` inputs (manifest, planted gaps, event payloads) are
generated here too, with numpy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per unit of scale; scale 1.0 is the fixtures' sf0.01 shape.
ROWS = {"customer": 1500, "documents": 500, "embeddings": 500}
TABLES = tuple(ROWS)
#: Non-template text seeds start here, above any template seed
#: (the role of the ``+ 1000`` / ``+ 1_000_000`` in tools_gen_scale).
NON_TEMPLATE_SEED = 10**12

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _n(table: str, scale: float) -> int:
    return max(5, int(round(ROWS[table] * scale)))


class _OffsetRange:
    """A session whose ``range(n)`` yields ids ``off .. off + n - 1``,
    so ``_emb_df`` evaluates its law on copy ``off // n``."""

    def __init__(self, spark, off: int) -> None:
        self.spark, self.off = spark, off

    def range(self, n: int):
        return self.spark.range(self.off, self.off + n)


def _write_spark(df, out_dir: str, name: str) -> None:
    # one file, like the fixtures, so scans have the fixtures' split count
    df.coalesce(1).write.parquet(os.path.join(out_dir, f"{name}.parquet"))


def write_tables(spark, out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write customer, documents and embeddings under ``out_dir``."""
    from pyspark.sql import functions as F
    from tools_gen_scale import _doc_text, _emb_df

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x6D6D])

    n_cust = _n("customer", scale)
    keys = np.arange(n_cust, dtype=np.int64) + seed * n_cust
    pq.write_table(pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))

    n_doc = _n("documents", scale)
    n_tpl = max(1, n_doc // 200)
    off = seed * n_doc
    local = F.col("id") - F.lit(off)
    text_seed = F.when(
        local < n_doc // 20, F.pmod(local, F.lit(n_tpl)) + F.lit(seed * n_tpl)
    ).otherwise(F.col("id") + F.lit(NON_TEMPLATE_SEED))
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("zh"), F.lit("de")),
        (F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit("lang")), F.lit(5)) + 1).cast("int"),
    )
    docs = spark.range(off, off + n_doc).select(
        F.col("id").alias("doc_id"),
        _doc_text(text_seed).alias("text"),
        lang.alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(20)).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    _write_spark(docs, out_dir, "documents")

    n_emb = _n("embeddings", scale)
    _write_spark(_emb_df(_OffsetRange(spark, seed * n_emb), n_emb), out_dir, "embeddings")


@dataclass(frozen=True)
class LoopInputs:
    """Inputs of one ``elt_loop`` pass: the manifest (expected event
    ids), the planted gaps (ids missing from the initial bronze load)
    and the event payload of every manifest id."""

    manifest: list[int]
    gaps: frozenset[int]
    events: dict[int, dict]

    @property
    def initial(self) -> list[dict]:
        return [self.events[i] for i in self.manifest if i not in self.gaps]


def write_manifest(path: str, inputs: LoopInputs) -> None:
    """The manifest as the table the loop reconciles against."""
    pq.write_table(pa.table({"event_id": pa.array(inputs.manifest, pa.int64())}), path)


def loop_inputs(seed: int, manifest_size: int, n_gaps: int) -> LoopInputs:
    """A manifest of ``manifest_size`` event ids drawn from a sparse id
    space, with ``n_gaps`` of them held back from the initial load."""
    rng = np.random.default_rng([seed, 0x100F])
    ids = np.sort(rng.choice(manifest_size * 8, manifest_size, replace=False)).tolist()
    gaps = frozenset(int(i) for i in rng.choice(ids, n_gaps, replace=False))
    ts = np.sort(rng.integers(0, 7 * 86_400, manifest_size))
    users = rng.integers(0, 150, manifest_size)
    types = rng.integers(0, 5, manifest_size)
    values = np.round(rng.exponential(50.0, manifest_size), 2)
    events = {}
    for k, i in enumerate(ids):
        t = int(ts[k])
        events[i] = {
            "event_id": i,
            "ts": f"2024-03-{1 + t // 86_400:02d}T{t % 86_400 // 3600:02d}:"
            f"{t % 3600 // 60:02d}:{t % 60:02d}",
            "user_id": int(users[k]),
            "event_type": EVENT_TYPES[int(types[k])],
            "value": float(values[k]),
        }
    return LoopInputs(manifest=ids, gaps=gaps, events=events)
