"""Frozen op list of the query workload, in two families.

The lists are fixed here by registered name, so a later edit to the
catalog's bench headline does not change what the workload runs. ``check``
confirms every name is still registered and comes from the expected part
of the package.
"""

from __future__ import annotations

# Relational and event queries (the analytics family): short plans whose
# fixed per-query cost -- plan building and per-job scheduling --
# dominates. No Python stages.
ANALYTICS: tuple[str, ...] = (
    "a1_pricing_summary", "j1_inner_equi", "h18_large_volume_customer",
    "e9_sequence_pattern",
)

# LLM data-prep and media decode (the dataprep family): dedup and tokenizer
# queries and the pandas/Arrow stages. Job-count and serial-stage bound.
DATAPREP: tuple[str, ...] = (
    "l4_tokenize_tf", "l38_incremental_exact_dedup", "m2_feature_extract",
)

# Ops registered without a value oracle: checked the way the external
# verifier checks them, by output columns plus a non-empty result.
ROWS_ONLY_COLUMNS: dict[str, tuple[str, ...]] = {
    "m2_feature_extract": ("media_id", "media_type", "n_bytes", "mean_byte", "feature_sum"),
}

FAMILIES = {"analytics": ANALYTICS, "dataprep": DATAPREP}
QUERIES: tuple[str, ...] = ANALYTICS + DATAPREP


def family(name: str) -> str:
    return next(f for f, names in FAMILIES.items() if name in names)


def check(specs: dict) -> None:
    """Fail loudly if a frozen name is gone or moved families."""
    missing = [n for n in QUERIES if n not in specs]
    if missing:
        raise SystemExit(f"unknown ops {missing}")
    for n in QUERIES:
        is_llm = specs[n].builder.__module__.startswith("mric_bak_etl_spark.llm")
        if is_llm != (family(n) == "dataprep"):
            raise SystemExit(f"{n} is registered in {specs[n].builder.__module__}")
        if (specs[n].oracle is None) != (n in ROWS_ONLY_COLUMNS):
            raise SystemExit(f"oracle presence changed for {n}")
