"""Driver-gated ingestion-parser surface: drive the CIF structure parser
(sources/mc3d.py — reference parity: crystpqdb loaders' CIF ingestion) under
the correctness gate, the same synthesized-content trick as the image/video
header queries in surface/llm.py.

The query builds a spec-shaped minimal CIF document per fixture row with
pure column expressions, runs it through the SAME Arrow-batched parse path
the MC3D loader uses on real files, and the oracle recomputes every parsed
field from the formulas the text encodes. A regex that misreads a cell
parameter, drops a site, fails to strip the type-symbol digit suffix, or
mis-sums fractional coordinates flips the hash.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.tables import load_table

_ELS = ["Si", "O", "Fe", "Al"]

# All-90° angles make the lattice matrix trigonometry collapse exactly:
# cos(90°) in IEEE double is ~6.1e-17, whose square is far below 1 ulp of
# 1.0, so v = sqrt(1 - ...) evaluates to exactly 1.0 and volume = a*b*c with
# no rounding — both engines compute the identical integer-valued double.

# Array outputs are serialized to comma-joined strings on BOTH sides: the
# driver's canonicalizer sorts pandas rows with raw cell values, and list
# cells are unhashable/unorderable there (see registry.py's complex-column
# guard and relational.py's agg_collect_sorted_list for the pattern).

_CIF_ORACLE = f"""
SELECT doc_id AS cif_id,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_sites,
       array_to_string(
         list_transform(range(0, CAST(1 + doc_id % 4 AS INTEGER)),
                        i -> (['Si','O','Fe','Al'])[CAST((doc_id + i) % 4 AS INTEGER) + 1]),
         ',') AS species,
       CAST(4 + doc_id % 7 AS DOUBLE) AS a,
       CAST(5 + doc_id % 5 AS DOUBLE) AS b,
       CAST(6 + doc_id % 3 AS DOUBLE) AS c,
       CAST((4 + doc_id % 7) * (5 + doc_id % 5) * (6 + doc_id % 3) AS DOUBLE)
         AS volume,
       0.75 * (1 + doc_id % 4) * (doc_id % 4) / 2 AS frac_sum
FROM documents
"""

_CIF_OUT = T.StructType(
    [
        T.StructField("cif_id", T.LongType()),
        T.StructField("n_sites", T.IntegerType()),
        T.StructField("species", T.StringType()),
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("c", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("frac_sum", T.DoubleType()),
    ]
)


def _parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # executor-side: the REAL vendored parser (the one the MC3D loader runs
    # when pymatgen is absent), called directly so the check exercises it
    # regardless of which optional libraries are installed
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    for pdf in batches:
        rows = []
        for cif_id, text in zip(pdf["cif_id"], pdf["cif_text"]):
            rec = parse_cif_minimal(text)
            if rec is None:
                rows.append((int(cif_id), None, None, None, None, None, None, None))
                continue
            lat = rec["lattice"]
            frac_sum = 0.0
            for f3 in rec["frac_coords"]:
                for v in f3:
                    frac_sum += v
            rows.append(
                (
                    int(cif_id),
                    len(rec["species"]),
                    ",".join(rec["species"]),
                    lat["a"],
                    lat["b"],
                    lat["c"],
                    lat["volume"],
                    frac_sum,
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in _CIF_OUT.fields])


@query("cif_parse_real", _CIF_ORACLE)
def cif_parse_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL CIF parsing, driver-checked: synthesize a minimal CIF per
    document (cell block + _atom_site loop, pure column expressions) with
    cell lengths and site rosters derived from doc_id, parse it with the
    identical executor-side parser the MC3D ingest uses
    (sources/mc3d.parse_cif_minimal — reference parity cited there), and
    hash-compare species / cell / volume / fractional-coordinate sums
    against the generating formulas. Type symbols carry digit suffixes
    ("Si1", "O2") so the element-extraction strip is exercised; fractional
    coordinates are exact binary quarters so the sum is IEEE-exact in both
    engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = (F.lit(1) + F.col("doc_id") % 4).cast("int")
    a = (F.lit(4) + F.col("doc_id") % 7).cast("string")
    b = (F.lit(5) + F.col("doc_id") % 5).cast("string")
    c = (F.lit(6) + F.col("doc_id") % 3).cast("string")
    quarters = F.array(F.lit("0.0"), F.lit("0.25"), F.lit("0.5"), F.lit("0.75"))
    els = F.array(*[F.lit(e) for e in _ELS])

    def site_line(i):
        el = F.element_at(els, ((F.col("doc_id") + i) % 4 + 1).cast("int"))
        fr = F.element_at(quarters, (i + 1).cast("int"))
        sym = F.concat(el, (i + 1).cast("string"))  # digit suffix → stripped
        return F.concat_ws(" ", sym, fr, fr, fr)

    sites = F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), site_line), "\n"
    )
    cif = F.concat(
        F.lit("data_synthetic\n"),
        F.lit("_cell_length_a "), a, F.lit("\n"),
        F.lit("_cell_length_b "), b, F.lit("\n"),
        F.lit("_cell_length_c "), c, F.lit("\n"),
        F.lit("_cell_angle_alpha 90\n_cell_angle_beta 90\n_cell_angle_gamma 90\n"),
        F.lit(
            "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
            "_atom_site_fract_y\n_atom_site_fract_z\n"
        ),
        sites, F.lit("\n"),
    )
    payload = docs.select(F.col("doc_id").alias("cif_id"), cif.alias("cif_text"))
    return payload.mapInPandas(_parse_batch, schema=_CIF_OUT)


# The nested restructuring operators (functions/nested.py, reference parity
# A9-A11) were property-tested but never driver-checked. Build the exact
# list<struct{label, species: list<struct{element,occu}>}> shape the
# Alexandria loader consumes — with RAGGED species lists (every odd site
# carries a second occupancy entry), the case where the reference's
# offset-collapsing flatten and the intended first-entry semantics diverge —
# and emit BOTH readings so the oracle pins each one.

_NESTED_ORACLE = """
SELECT doc_id,
       CAST(1 + doc_id % 5 AS INTEGER) AS n_sites,
       array_to_string(
         list_transform(range(0, CAST(1 + doc_id % 5 AS INTEGER)),
                        i -> (['Si','O','Fe','Al'])[CAST((doc_id + i) % 4 AS INTEGER) + 1]),
         ',') AS first_elements,
       array_to_string(
         flatten(list_transform(range(0, CAST(1 + doc_id % 5 AS INTEGER)),
                                i -> CASE WHEN i % 2 = 0
                                     THEN [(['Si','O','Fe','Al'])[CAST((doc_id + i) % 4 AS INTEGER) + 1]]
                                     ELSE [(['Si','O','Fe','Al'])[CAST((doc_id + i) % 4 AS INTEGER) + 1], 'X']
                                     END)),
         ',') AS flat_elements,
       array_to_string(
         list_transform(range(0, CAST(1 + doc_id % 5 AS INTEGER)),
                        i -> 'site_' || CAST(i AS VARCHAR)),
         ',') AS labels,
       (['Si','O','Fe','Al'])[CAST(doc_id % 4 AS INTEGER) + 1] AS first_site_el
FROM documents
"""


@query("nested_struct_ops_real", _NESTED_ORACLE)
def nested_struct_ops_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-A11 nested restructuring under the driver gate: synthesize the
    Alexandria ``sites`` shape (list of site structs, each with a label and
    a species list of {element, occu} structs) with pure column
    expressions, then extract via the SAME functions the loader uses —
    ``site_elements`` (first species entry per site, the intended
    semantics), ``site_elements_flat`` (the reference's offset-collapsing
    full flatten — diverges on the ragged odd sites, which here carry a
    second 'X' occupancy entry), ``list_struct_field`` (labels), and
    ``struct_field`` path projection (first site's first element). The
    oracle rebuilds every reading from the generating formulas."""
    from crystal_parquet_database_spark.functions import nested as N

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = (F.lit(1) + F.col("doc_id") % 5).cast("int")
    els = F.array(*[F.lit(e) for e in _ELS])

    def species_list(i):
        el = F.element_at(els, ((F.col("doc_id") + i) % 4 + 1).cast("int"))
        main = F.struct(el.alias("element"), F.lit(1.0).alias("occu"))
        extra = F.struct(F.lit("X").alias("element"), F.lit(0.5).alias("occu"))
        return F.when(i % 2 == 0, F.array(main)).otherwise(F.array(main, extra))

    def site(i):
        return F.struct(
            F.concat(F.lit("site_"), i.cast("string")).alias("label"),
            species_list(i).alias("species"),
        )

    sites = F.transform(F.sequence(F.lit(0), n - 1), site)
    shaped = docs.withColumn("sites", sites)
    return shaped.select(
        "doc_id",
        F.size("sites").alias("n_sites"),
        F.array_join(N.site_elements("sites"), ",").alias("first_elements"),
        F.array_join(N.site_elements_flat("sites"), ",").alias("flat_elements"),
        F.array_join(N.list_struct_field("sites", "label"), ",").alias("labels"),
        N.struct_field(
            F.element_at(F.element_at(F.col("sites"), 1).getField("species"), 1),
            "element",
        ).alias("first_site_el"),
    )
