"""Bronze-layer load (database/layers/bronze/load_bronze.py): lineage
stamping (P3), validation quarantine (P9), append sink (S6).
Multi-source tables union-by-name (U1) — fakestore + dummyjson both
land in products_raw/users_raw.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..quality.validators import Rule, quarantine_split
from ..sinks.parquet_sinks import append
from ..sources.rest import with_lineage


@dataclass
class BronzeLoad:
    table: str
    rules: list[Rule] = field(default_factory=list)


def load_to_bronze(
    df: DataFrame,
    path: str,
    cfg: BronzeLoad,
    source_name: str,
    endpoint: str | None = None,
    quarantine_path: str | None = None,
) -> tuple[int, int]:
    """Lineage → quarantine split → append.

    Returns (rows_loaded, rows_quarantined). The reference fails the
    whole batch on any invalid row; quarantining keeps the good rows
    flowing and preserves the bad ones for inspection — strictly more
    information, same guarantee for downstream layers.
    """
    df = with_lineage(df, source_name, endpoint, cfg.table)
    clean, bad = quarantine_split(df, cfg.rules)
    # audit counts ride the write actions via Observation (SURVEY C2's
    # df.observe mapping) — no extra count() scans of either branch
    obs_clean = Observation("bronze_clean")
    append(clean.observe(obs_clean, F.count(F.lit(1)).alias("n")), path)
    n_clean = int(obs_clean.get["n"])
    if quarantine_path:
        obs_bad = Observation("bronze_bad")
        bad.observe(obs_bad, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).parquet(quarantine_path)
        n_bad = int(obs_bad.get["n"])
    else:
        n_bad = bad.count()
    return n_clean, n_bad
