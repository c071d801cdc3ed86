"""Materials Project loader (reference: crystpqdb/loaders/mp.py).

Source shape: JSON dump of summary docs (one flat record per material with a
nested pymatgen ``structure``). The reference fetches via the mp-api REST
client and projects 28 fields per doc (mp.py:33-97); fetching is driver-side
and import-gated here, and offline runs read a pre-placed JSON dump.

Transform parity (mp.py:106-179) including the deliberate alias
``energy_corrected := total_energy`` (mp.py:135) and passthrough of the
``symmetry`` and ``has_props`` structs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crystal_parquet_database_spark.schema import sql_ident
from crystal_parquet_database_spark.sources.base import BaseLoader

# source field → canonical data_struct field (mp.py:131-160)
_MP_DATA_MAP = [
    ("band_gap", "band_gap"),
    ("total_energy", "energy_total"),
    ("uncorrected_energy", "energy_uncorrected"),
    ("total_energy", "energy_corrected"),  # deliberate alias (mp.py:135)
    ("formation_energy_per_atom", "energy_formation"),
    ("e_above_hull", "energy_above_hull"),
    ("n", "n"),
    ("piezoelectric_modulus", "piezoelectric_modulus"),
    ("e_electronic", "e_electronic"),
    ("e_ionic", "e_ionic"),
    ("e_total", "e_total"),
    ("g_reuss", "g_reuss"),
    ("g_voigt", "g_voigt"),
    ("g_vrh", "g_vrh"),
    ("k_reuss", "k_reuss"),
    ("k_voigt", "k_voigt"),
    ("k_vrh", "k_vrh"),
    ("poisson_ratio", "poisson_ratio"),
    ("surface_energy_anisotropy", "surface_energy_anisotropy"),
    ("weighted_work_function", "weighted_work_function"),
    ("weighted_surface_energy", "weighted_surface_energy"),
    ("total_magnetization", "total_magnetization"),
    ("magnetic_ordering", "magnetic_ordering"),
    ("is_gap_direct", "is_gap_direct"),  # extra field; survives permissively
    ("is_stable", "is_stable"),
]


class MPLoader(BaseLoader):
    source_database = "materials_project"
    source_dataset = "summary"

    api_key: str | None = None

    def _download(self, raw_dir: str) -> None:
        """REST full scan via mp-api (reference A5, mp.py:33-97); driver-side
        and import-gated — offline runs pre-place a JSON dump in raw_dir."""
        try:
            from mp_api.client import MPRester  # noqa: F401
        except ImportError as e:
            raise FileNotFoundError(
                f"no raw files in {raw_dir} and mp-api is not installed; "
                "place a summary-docs JSON dump there instead"
            ) from e
        raise NotImplementedError("live MP fetch requires an API key and network access")

    def _read_raw(self, spark: SparkSession, raw_dir: str) -> DataFrame:
        # a file-name filter on the directory, not a glob path (see
        # AlexandriaLoader._read_raw)
        return (
            spark.read.option("multiLine", "true")
            .option("pathGlobFilter", "*.json")
            .json(raw_dir)
        )

    def _transform(self, df: DataFrame) -> DataFrame:
        present = set(df.columns)
        # guard the top-level columns the same way as the data fields —
        # partial summary dumps (the exact case the per-field fallback
        # exists for) may lack symmetry/has_props and must null-pad, not
        # raise UNRESOLVED_COLUMN
        def opt(name: str) -> str:
            return sql_ident(name) if name in present else "NULL"

        data = ", ".join(f"{opt(src)} AS {sql_ident(dst)}" for src, dst in _MP_DATA_MAP)
        return df.selectExpr(
            *self._structure_projection("`material_id`"),
            f"struct({data}) AS data",
            f"{opt('symmetry')} AS symmetry",
            f"{opt('has_props')} AS has_props",
        )
