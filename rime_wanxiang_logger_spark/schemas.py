"""Schemas: the reference event-log (SURVEY §1.3) and the driver's
star-schema tables (TESTDATA.md / FIXTURES.md §B).

The reference's log is a tagged union keyed by ``event_type``
(producer: /root/reference/rime_logger/assets/input_habit_logger.lua:265-275,
344-352, 401-405, 385-391); we model it exactly as the Go consumer does
(/root/reference/cli-go/internal/analyzer/analyzer.go:15-25): one wide
nullable struct with the discriminator column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- A. Reference-faithful rime event log (JSONL) --------------------------

RIME_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("timestamp", T.StringType(), True),  # ISO-8601, parsed downstream
        T.StructField("schema_id", T.StringType(), True),
        T.StructField("committed_text", T.StringType(), True),
        T.StructField("input_sequence_at_commit", T.StringType(), True),
        T.StructField("selection_method", T.StringType(), True),
        # 0 = first candidate; -1 = direct-commit sentinel
        # (input_habit_logger.lua:222-251); NULL = pruned by preset.
        T.StructField("selected_candidate_rank", T.IntegerType(), True),
        T.StructField("source_input_buffer", T.StringType(), True),
        T.StructField("source_candidates_list", T.ArrayType(T.StringType()), True),
        T.StructField("source_first_candidate", T.StringType(), True),
        T.StructField("source_event_timestamp", T.StringType(), True),
        T.StructField("event_subtype", T.StringType(), True),
        T.StructField("key_action", T.StringType(), True),
        T.StructField("input_buffer", T.StringType(), True),
        T.StructField("candidates", T.ArrayType(T.StringType()), True),
        T.StructField("first_candidate", T.StringType(), True),
        T.StructField("has_menu", T.BooleanType(), True),
        T.StructField("component", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        # PERMISSIVE-mode capture of malformed lines (analyzer.go:70-74 skip
        # semantics: we keep them quarantined instead of silently dropping).
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

# Candidate page size fixed by the producer (input_habit_logger.lua:223);
# global rank = page_index * PAGE_SIZE + local_index (lua:242, 250).
PAGE_SIZE = 6

# --- B. Driver star-schema tables (TESTDATA.md) ----------------------------

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor
# (region/nation are fixed-size; part/supplier/customer grow with SF but
# stay ≪ the fact tables — broadcast below spark.sql.autoBroadcastJoinThreshold,
# which AQE also re-checks at runtime).
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")
