"""What each workload runs and how an execution's output is checked.

Rows are the engine's own registry queries (``plans.REGISTRY``), each with
a DuckDB oracle. Every row reads the fixed sf0.01 tables vendored under
``data/``.
"""

from __future__ import annotations

import hashlib
import importlib.util
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"

WORKLOADS = {
    # JVM operators, parquet scan and parquet write; Python workers idle
    "warehouse": (
        "flagship_star_fact",
        "mart_per_month",
        "mart_per_segment",
        "tpch_q1_pricing_summary",
        "tpch_q18_large_volume",
    ),
    # driver round-trips at plan-build (eager jobs inside the operators),
    # plus SemDeDup's Arrow mapInPandas kernels in the Python workers
    "dedup": (
        "dedup_components_star",
        "semantic_dedup_keep",
    ),
}

# seconds per warm pass assumed when turning --seconds into a pass count,
# round(seconds / this) and at least two; a fixed count keeps both commits
# of a comparison on the same number of passes whatever their speed
NOMINAL_PASS_S = {"warehouse": 5.0, "dedup": 7.0}

# load-shaped rows: written through sources.io.write_parquet, read back
WRITTEN = frozenset({"flagship_star_fact", "mart_per_month", "mart_per_segment"})

# operators reported one by one in the traced run
OPERATOR_DETAIL = (
    "all_pairs_jaccard",
    "connected_components_star",
    "semantic_dedup",
)

REQUIRED = ("lfb_data_warehouse_spark", "tools/check_oracle.py")


def missing_files() -> list[str]:
    """Repo files the benchmark needs that are absent from this tree."""
    need = [ROOT / p for p in REQUIRED] + [DATA_DIR]
    return [str(p) for p in need if not p.exists()]


def load_by_path(name: str, rel: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / rel)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def row_functions(names) -> dict:
    """name -> fn(spark, sf_dir) -> DataFrame, from the query registry."""
    from lfb_data_warehouse_spark.plans import REGISTRY

    return {n: REGISTRY[n].fn for n in names}


def fingerprinter():
    """Order-insensitive fingerprint of a pandas result: sha256 over the
    driver-equivalent canonical form of ``tools/check_oracle.py``."""
    canon = load_by_path("check_oracle", "tools/check_oracle.py").canon

    def fingerprint(pdf) -> str:
        return hashlib.sha256(repr(canon(pdf)).encode()).hexdigest()

    return fingerprint
