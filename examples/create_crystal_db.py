#!/usr/bin/env python3
"""End-to-end crystal database build — the Spark re-expression of the
reference's combined-DB workflow (reference: README.md:101-117 and
examples/Creating-CrystPQDB.ipynb):

    for each (source_database, source_dataset):
        loader.run() → canonical table → pqdb.create(table)
    pqdb.normalize(); inspect stats; pqdb.read(columns=["id"])

Run: python3 examples/create_crystal_db.py [work_dir]

With no network access this generates synthetic source files shaped like each
upstream (Alexandria entries JSON(.bz2), MP summary-doc dump, MC3D CIFs) —
swap in real downloads by configuring index_url / api_key / archive_url on
the loaders.
"""

from __future__ import annotations

import bz2
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from crystal_parquet_database_spark import PqDB, get_spark
from crystal_parquet_database_spark.functions.nested import site_elements
from crystal_parquet_database_spark.sources import LoaderConfig, LoaderFactory


def _structure(n_sites: int, seed: int) -> dict:
    els = ["Si", "O", "Fe", "Na", "Cl", "H", "C"]
    lat = {
        "matrix": [[4.0, 0.0, 0.0], [0.0, 4.0, 0.0], [0.0, 0.0, 4.0]],
        "a": 4.0, "b": 4.0, "c": 4.0, "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
        "volume": 64.0, "pbc": [True, True, True],
    }
    sites = []
    for i in range(n_sites):
        el = els[(seed + i) % len(els)]
        frac = [((seed * 13 + i * 7 + j * 3) % 10) / 10.0 for j in range(3)]
        sites.append(
            {
                "species": [{"element": el, "occu": 1}],
                "abc": frac,
                "xyz": [f * 4.0 for f in frac],
                "properties": {"magmom": 0.1 * i, "charge": 0.0, "forces": [0.0] * 3},
                "label": el,
            }
        )
    return {
        "@module": "pymatgen.core.structure",
        "@class": "Structure",
        "lattice": lat,
        "sites": sites,
        "charge": 0.0,
    }


def synthesize_sources(data_dir: str, n_per_source: int = 50) -> None:
    # Alexandria: {"entries": [{"data": {...}, "structure": {...}}]}
    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw, exist_ok=True)
    entries = [
        {
            "data": {
                "mat_id": f"agm-{i}",
                "band_gap_ind": 0.1 * (i % 30),
                "band_gap_dir": 0.15 * (i % 30),
                "dos_ef": 0.3,
                "energy_total": -10.0 - i * 0.01,
                "energy_corrected": -9.9 - i * 0.01,
                "e_form": -1.0 + 0.01 * (i % 100),
                "e_above_hull": 0.001 * (i % 50),
                "e_phase_separation": 0.2,
                "total_mag": float(i % 5),
            },
            "structure": _structure(1 + i % 8, i),
        }
        for i in range(n_per_source)
    ]
    with bz2.open(os.path.join(raw, "alexandria_000.json.bz2"), "wt") as f:
        json.dump({"entries": entries}, f)

    # MP: flat summary docs
    raw = os.path.join(data_dir, "materials_project", "summary", "raw")
    os.makedirs(raw, exist_ok=True)
    docs = [
        {
            "material_id": f"mp-{i}",
            "band_gap": 0.1 * (i % 40),
            "total_energy": -20.0 - i * 0.01,
            "uncorrected_energy": -19.0 - i * 0.01,
            "formation_energy_per_atom": -0.5,
            "e_above_hull": 0.0,
            "total_magnetization": float(i % 3),
            "magnetic_ordering": ["FM", "AFM", "NM"][i % 3],
            "is_gap_direct": i % 2 == 0,
            "is_stable": i % 4 == 0,
            "symmetry": {
                "crystal_system": ["cubic", "hexagonal", "triclinic"][i % 3],
                "symbol": "Pm-3m",
                "number": 221,
                "point_group": "m-3m",
                "symprec": 0.1,
                "angle_tolerance": 5.0,
                "version": "2.0.1",
            },
            "has_props": {"materials": True, "thermo": i % 2 == 0, "magnetism": i % 3 == 0},
            "structure": _structure(1 + i % 6, i + 7),
        }
        for i in range(n_per_source)
    ]
    with open(os.path.join(raw, "summary_docs.json"), "w") as f:
        json.dump(docs, f)

    # MC3D: CIF files
    raw = os.path.join(data_dir, "materialscloud", "mc3d", "raw")
    os.makedirs(raw, exist_ok=True)
    for i in range(n_per_source):
        cif = (
            "data_x\n_cell_length_a 4.00\n_cell_length_b 4.00\n_cell_length_c 4.00\n"
            "_cell_angle_alpha 90.0\n_cell_angle_beta 90.0\n_cell_angle_gamma 90.0\n"
            "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n_atom_site_fract_y\n_atom_site_fract_z\n"
            + "".join(
                f"{['Si','O','Fe'][j % 3]} 0.{j}0 0.{(j*3)%10}0 0.{(j*7)%10}0\n"
                for j in range(1 + i % 4)
            )
        )
        with open(os.path.join(raw, f"mc3d-{i}.cif"), "w") as f:
            f.write(cif)


def main(work_dir: str | None = None, n_per_source: int = 50) -> PqDB:
    work = work_dir or tempfile.mkdtemp(prefix="crystal_db_")
    data_dir = os.path.join(work, "sources")
    synthesize_sources(data_dir, n_per_source)

    spark = get_spark(app_name="create_crystal_db")
    db = PqDB(spark, os.path.join(work, "combined_db"))
    cfg = LoaderConfig(data_dir=data_dir)

    for source_database, source_dataset in LoaderFactory.available():
        loader = LoaderFactory.get_loader(spark, source_database, source_dataset, cfg)
        try:
            canonical = loader.run()
        except FileNotFoundError:
            continue  # no raw files for this source (e.g. alex 2d/1d here)
        n = db.create(canonical)
        print(f"ingested {source_database}/{source_dataset}: {n} rows")

    # Executor-parallel ingestion path: the same Alexandria fixture read via
    # the Python DataSource API (one partition per file, fetch/decompress/
    # parse on executors) must yield exactly the rows the driver-side loader
    # path ingested (sources/alexandria_datasource.py:13-17).
    from crystal_parquet_database_spark.sources.alexandria_datasource import (
        AlexandriaJsonDataSource,
    )

    alex_files = sorted(
        os.path.join(data_dir, "alex", "3d", "raw", f)
        for f in os.listdir(os.path.join(data_dir, "alex", "3d", "raw"))
        if f.endswith(".json.bz2")
    )
    spark.dataSource.register(AlexandriaJsonDataSource)
    ds_rows = (
        spark.read.format("alexandria_json")
        .option("files", ",".join(alex_files))
        .load()
    )
    ds_ids = {r["entry_id"] for r in ds_rows.select("entry_id").collect()}
    loader_ids = {
        r["source_id"]
        for r in db.read(columns=["source_id", "source_database"])
        .filter(F.col("source_database") == "alex")
        .collect()
    }
    assert ds_ids == loader_ids, (
        f"DataSource path diverged from loader path: "
        f"{len(ds_ids)} vs {len(loader_ids)} entries"
    )
    print(f"alexandria datasource path: {len(ds_ids)} entries, identical to loader path")

    db.normalize(max_rows_per_file=100_000)
    print("rows:", db.n_rows, "columns:", db.n_columns, "files:", len(db.get_file_sizes()))

    # the reference's README query: pqdb.read(columns=["id"])
    print("ids:", db.read(columns=["id"]).count())

    # nested-schema analytics over the combined DB
    df = db.read(load_format="dataset")
    per_source = df.groupBy("source_database").count()
    per_source.show()
    element_freq = (
        df.select(F.explode(site_elements("structure.sites")).alias("element"))
        .groupBy("element")
        .count()
        .orderBy(F.desc("count"))
    )
    element_freq.show(5)
    stable = df.filter(F.col("data.is_stable") == True)  # noqa: E712
    print("stable:", stable.count())
    return db


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
