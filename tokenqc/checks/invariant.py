"""Per-row invariant gate: token arrays must equal the reference copy.

Engine analogue of the reference re-running each repo's own test suite
and comparing outcomes (/root/reference/bin/run_tests.py:109-125,
modules/TestExecutor.nf) — ground truth re-checked per item.

Scale plan: at 10^12 rows the `tokens` array dominates I/O and shuffle,
so we never shuffle the arrays themselves. Each side is first reduced to
(doc_id, xxhash64(tokens)) in a narrow projection — the array is read
once, hashed JVM-side inside whole-stage codegen, and dropped before the
join — then a sort-merge (or broadcast, if the reference slice is small)
equi-join compares 16 bytes per row instead of KBs. 64-bit collisions
(~n²/2⁶⁵) are documented; `exact=True` joins the raw arrays for audits.
The reference side is grouped by doc_id before the join (min and max of
its copies' hashes), so a doc_id the reference repeats cannot multiply
violation rows; copies that disagree are themselves a mismatch.

That digest is a function of the reference alone, so the runner stores
it once per reference snapshot (`stored_digest`) rather than decoding,
hashing and shuffling every `tokens_ref` array on every run: a reference
that is a bare file scan (what `spark.read.parquet(path)` gives) has its
digest kept under `spark.sql.warehouse.dir`, keyed by the reference's
file listing with lengths and modification times. A run whose key
matches the stored one reads the digest (16 bytes per doc_id plus the
id) and never opens `tokens_ref`; any other run builds it, commits it
and reads it back, so both join the same stored table. A commit keeps
the digest it replaces (a concurrent run may still be scanning it) and
deletes older ones. Any other reference (filtered, derived, in-memory, a
catalog table without `inputFiles()`) is digested inline on every run,
as is any reference whose store cannot be read or written.
`reference_digest` and `violations` stay pure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tokenqc import io as qio
from tokenqc.checks.base import CheckConfig, partition_id_col

CHECK = "invariant"


def reference_digest(reference: DataFrame, exact: bool = False) -> DataFrame:
    """(doc_id, _rmin, _rmax): one row per reference doc_id, holding the
    least and greatest of its copies (xxhash64(tokens_ref), or with
    `exact` the array itself wrapped in a struct so a NULL array is a
    comparable value). A doc_id repeated in the reference then joins one
    row, never several, and its copies conflict iff _rmin != _rmax —
    identical copies are one copy. The groupBy hashes on doc_id, the
    join key, so a shuffled join reuses its exchange."""
    v = F.struct(F.col("tokens_ref").alias("v")) if exact else F.xxhash64("tokens_ref")
    return reference.groupBy("doc_id").agg(F.min(v).alias("_rmin"), F.max(v).alias("_rmax"))


def stored_digest(reference: DataFrame) -> DataFrame | None:
    """`reference_digest(reference)` through the digest store: read back
    when the store holds it under the reference's current key, else built,
    committed and read back. None when the reference is not a bare file
    scan; the caller then digests it inline."""
    snapshot = qio.digest_snapshot(reference)
    if snapshot is None:
        return None
    store, key = snapshot
    spark = reference.sparkSession
    digest = reference_digest(reference)
    found = qio.read_digest(spark, store, key, digest.schema)
    if found is None:
        qio.write_digest(digest, store, key)
        found = qio.read_digest(spark, store, key, digest.schema)
    return found


def mismatch(tok: Column) -> Column:
    """Tokens (`tok`, digested like the reference) differ from the joined
    reference digest, or the reference's copies conflict among
    themselves: no input can equal every copy."""
    return (tok != F.col("_rmin")) | (F.col("_rmin") != F.col("_rmax"))


def violations(
    df: DataFrame, reference: DataFrame, cfg: CheckConfig, exact: bool = False
) -> DataFrame:
    """Rows whose tokens differ from the reference copy (inner join on
    doc_id: rows absent from the reference are not checked — UNKNOWN,
    not FAIL, matching the reference's missing-input default,
    /root/reference/bin/analyze_joss.py:96-105)."""
    tok = F.struct(F.col("tokens").alias("v")) if exact else F.xxhash64("tokens")
    left = df.where(F.col("doc_id").isNotNull()).select("doc_id", tok.alias("_t"))
    return (
        left.join(reference_digest(reference, exact), on="doc_id", how="inner")
        .where(mismatch(F.col("_t")))
        .select(
            partition_id_col(cfg).alias("partition_id"),
            "doc_id",
            F.lit(CHECK).alias("check_name"),
            F.lit("tokens != tokens_ref").alias("observed"),
            F.lit("tokens == tokens_ref").alias("expected"),
        )
    )
