"""Extraction-barrier primitive: evaluate a bounded relation exactly once.

Several operators (DSIR log-weights, OOV rate, count-min frequency) derive
two or more downstream aggregates from one corpus-sized extraction
(normalize + tokenize + hash).  Without a barrier, Catalyst happily inlines
the extraction into every consumer and the corpus is scanned/tokenized
once per consumer — measured 2x the query under honest materialization
(round 11).  The barrier pins the SMALL intermediate (bounded at
docs x n_buckets / vocabulary size), never the corpus itself.

Two modes, chosen per deployment:

- ``"local"`` (default): ``localCheckpoint(eager=False)`` — truncates
  lineage and stores blocks on executor local disk/memory.  NOT
  fault-tolerant: on a cluster with preemptible/spot executors, losing an
  executor that holds checkpoint blocks FAILS the query instead of
  recomputing it.  The right trade for single-node benches, correctness
  witnesses, and clusters with stable executors — it is free of a
  reliable-store round trip.
- ``"persist"``: ``persist(StorageLevel.DISK_ONLY)`` — keeps the lineage,
  so a lost block is recomputed from source (one extra corpus scan in the
  failure path, zero lost queries).  The deploy-honest choice on
  preemptible fleets; costs local-disk writes on the happy path too.

The default can be swapped fleet-wide via ``SPARK_GRAFT_BARRIER=persist``
without touching query code — registered queries have fixed
``(spark, sf_dir)`` signatures, so the env knob is how a deployment opts
into the fault-tolerant barrier.

.. note:: **persist-mode lifetime** (ADVICE r12): ``persist`` registers the
   relation in the session's cache manager and nothing here unpersists it —
   the barriered relation is an anonymous intermediate the caller never
   sees, so the query author CANNOT release it.  In a long-lived session
   that runs many barriered queries (the 187-query sweep, the bench
   harness), each query leaks one DISK_ONLY cached relation for the
   session's lifetime.  Harnesses that set ``SPARK_GRAFT_BARRIER=persist``
   must call ``spark.catalog.clearCache()`` between queries (bench.py and
   the probe scripts do, via ``scripts/measure.py``'s ``release_barriers``;
   the persist-mode plan test does too).  The cached relations are bounded
   (docs x n_buckets / vocabulary size), so the leak is slow — but it is
   unbounded over session lifetime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_MODES = ("local", "persist")


def barrier_mode() -> str:
    """The deployment's default mode: ``$SPARK_GRAFT_BARRIER``, else ``"local"``."""
    return os.environ.get("SPARK_GRAFT_BARRIER", "local").strip().lower()


def extraction_barrier(df: DataFrame, mode: str | None = None) -> DataFrame:
    """Barrier a bounded extraction relation so each downstream consumer
    reads the materialized result instead of re-running the extraction.

    ``mode``: ``"local"`` | ``"persist"`` | None (``barrier_mode()``).  See
    module docstring for the executor-loss trade-off.
    """
    if mode is None:
        mode = barrier_mode()
    if mode not in _MODES:
        raise ValueError(f"barrier mode must be one of {_MODES}, got {mode!r}")
    if mode == "persist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=False)
