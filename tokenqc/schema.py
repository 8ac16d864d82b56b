"""Fixed StructType schemas for the engine's input tables.

The reference is stringly-typed (CSV rows, positional Nextflow tuples,
JSON — see /root/reference/modules/ProcessRepo.nf:85 and
bin/analyze_joss.py:510-515); the engine replaces that with explicit,
enforced columnar schemas (SURVEY.md section 1.3). The result tables
(violations, verdicts, qc_state) are described once, in
`io.TABLE_SCHEMAS`.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input -----------------------------------------------------------------
# Exact shape mandated by BASELINE.json `input_hint`.
SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), containsNull=False), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# ---- reference -------------------------------------------------------------
# Per-row invariant oracle (the analogue of the reference re-running each
# repo's own test suite, /root/reference/bin/run_tests.py:109-125).
REFERENCE_TOKENS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens_ref", T.ArrayType(T.IntegerType(), containsNull=False), True),
    ]
)

# ---- dimension and baselines ------------------------------------------------
# The referential whitelist: a source is allowed while `active`.
ALLOWED_SOURCES = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("active", T.BooleanType(), True),
    ]
)

# Expected per-source bucket probabilities: n_tok buckets for the drift
# gate, token-id residue buckets for the token drift gate.
BASELINE_HIST = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("p", T.DoubleType(), True),
    ]
)

# ---- verdict statuses ------------------------------------------------------
PASS = "PASS"
FAIL = "FAIL"
UNKNOWN = "UNKNOWN"
