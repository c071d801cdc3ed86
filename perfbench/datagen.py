"""Seeded input generators for the benchmark workloads.

``write_tables`` writes the TPC-H-ish star schema plus the ``documents`` and
``embeddings`` tables, one Parquet file per table, with the
schemas and value domains of the package's test fixtures (FIXTURES.md §A) at
about sf0.01 size. ``write_crystal_sources`` writes raw source files shaped
like the three upstreams the loaders read (Alexandria ``.json.bz2``, the
Materials Project summary JSON, MC3D CIFs) and returns the facts the crystal
workload checks its results against. The same seed gives the same files.
"""

from __future__ import annotations

import bz2
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
N_LABELS = 10
DUP_EVERY = 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
ELEMENTS = ["H", "C", "O", "Si", "Fe", "Na", "Cl"]

_EPOCH = datetime(1970, 1, 1)


def _days(d: datetime) -> int:
    return (d - _EPOCH).days


def _dates_ms(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days * 86_400_000, type=pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table the query workloads read into ``out_dir`` (all of
    ``tables.TABLE_NAMES`` but ``events``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _dates_ms(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _dates_ms(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), N_LINEITEM),
    })
    # documents: random word strings over WORDS less "dup". Every twentieth
    # is a near-duplicate: an earlier original's text with " dup" appended,
    # as in the fixtures, where every minhash pair is such a copy. A fixed
    # count, so that the dedup work is the same for every seed.
    base_words = [w for w in WORDS if w != "dup"]
    texts: list[str] = []
    originals: list[str] = []
    for i in range(N_DOCUMENTS):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(originals[int(rng.integers(0, len(originals)))] + " dup")
        else:
            originals.append(" ".join(rng.choice(base_words, int(rng.integers(10, 101)))))
            texts.append(originals[-1])
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: normalised Gaussian vectors; labels carry no signal, as in
    # the fixtures (10-NN share the query's label at chance rate)
    vecs = rng.normal(0.0, 1.0, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, N_EMBEDDINGS)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------- crystals


def _structure(rng: np.random.Generator, species: list[str], a: float) -> dict:
    sites = []
    for el in species:
        frac = [round(float(x), 4) for x in rng.uniform(0.0, 1.0, 3)]
        sites.append({
            "species": [{"element": el, "occu": 1}],
            "abc": frac,
            "xyz": [round(f * a, 4) for f in frac],
            "properties": {"magmom": round(float(rng.uniform(0, 2)), 3), "charge": 0.0, "forces": [0.0] * 3},
            "label": el,
        })
    return {
        "@module": "pymatgen.core.structure",
        "@class": "Structure",
        "lattice": {
            "matrix": [[a, 0.0, 0.0], [0.0, a, 0.0], [0.0, 0.0, a]],
            "a": a, "b": a, "c": a, "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
            "volume": round(a**3, 6), "pbc": [True, True, True],
        },
        "sites": sites,
        "charge": 0.0,
    }


def _species(rng: np.random.Generator, i: int) -> list[str]:
    """Record ``i``'s elements: 1-8 sites, cycling with ``i``, so that every
    seed writes the same number of sites."""
    return [str(e) for e in rng.choice(ELEMENTS, 1 + i % 8)]


def write_crystal_sources(data_dir: str, seed: int, n_per_source: int) -> dict:
    """Write one raw corpus per loader under the layout ``LoaderConfig`` expects.

    Returns ``{"records": {source_id: {"source_database", "n_sites",
    "energy_total" | "a"}}, "band_gaps": [...]}``: the per-record facts a point
    read must return, and every Materials Project band gap (the only source
    whose canonical ``data.band_gap`` is set), from which scan counts follow.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    records: dict[str, dict] = {}

    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw, exist_ok=True)
    entries = []
    for i in range(n_per_source):
        sp = _species(rng, i)
        e_tot = round(float(rng.uniform(-40.0, -1.0)), 4)
        sid = f"agm{seed}-{i}"
        entries.append({
            "data": {
                "mat_id": sid,
                "band_gap_ind": round(float(rng.uniform(0, 6)), 4),
                "band_gap_dir": round(float(rng.uniform(0, 6)), 4),
                "dos_ef": round(float(rng.uniform(-2, 2)), 4),
                "energy_total": e_tot,
                "energy_corrected": round(e_tot + 0.1, 4),
                "e_form": round(float(rng.uniform(-3, 1)), 4),
                "e_above_hull": round(float(rng.uniform(0, 0.5)), 4),
                "e_phase_separation": round(float(rng.uniform(-1, 1)), 4),
                "total_mag": round(float(rng.uniform(0, 5)), 4),
            },
            "structure": _structure(rng, sp, round(float(rng.uniform(3, 7)), 4)),
        })
        records[sid] = {"source_database": "alex", "n_sites": len(sp), "energy_total": e_tot}
    with bz2.open(os.path.join(raw, "alexandria_000.json.bz2"), "wt") as f:
        json.dump({"entries": entries}, f)

    raw = os.path.join(data_dir, "materials_project", "summary", "raw")
    os.makedirs(raw, exist_ok=True)
    docs, band_gaps = [], []
    for i in range(n_per_source):
        sp = _species(rng, i)
        e_tot = round(float(rng.uniform(-40.0, -1.0)), 4)
        gap = round(float(rng.uniform(0, 8)), 4)
        sid = f"mp{seed}-{i}"
        docs.append({
            "material_id": sid,
            "band_gap": gap,
            "total_energy": e_tot,
            "uncorrected_energy": round(e_tot - 0.2, 4),
            "formation_energy_per_atom": round(float(rng.uniform(-3, 1)), 4),
            "e_above_hull": round(float(rng.uniform(0, 0.5)), 4),
            "total_magnetization": round(float(rng.uniform(0, 5)), 4),
            "magnetic_ordering": str(rng.choice(["FM", "AFM", "NM"])),
            "is_gap_direct": bool(rng.integers(0, 2)),
            "is_stable": bool(rng.integers(0, 2)),
            "symmetry": {
                "crystal_system": str(rng.choice(["cubic", "hexagonal", "triclinic"])),
                "symbol": "Pm-3m", "number": 221, "point_group": "m-3m",
                "symprec": 0.1, "angle_tolerance": 5.0, "version": "2.0.1",
            },
            "has_props": {"materials": True, "thermo": bool(rng.integers(0, 2)), "magnetism": bool(rng.integers(0, 2))},
            "structure": _structure(rng, sp, round(float(rng.uniform(3, 7)), 4)),
        })
        band_gaps.append(gap)
        records[sid] = {"source_database": "materials_project", "n_sites": len(sp), "energy_total": e_tot}
    with open(os.path.join(raw, "summary_docs.json"), "w") as f:
        json.dump(docs, f)

    raw = os.path.join(data_dir, "materialscloud", "mc3d", "raw")
    os.makedirs(raw, exist_ok=True)
    for i in range(n_per_source):
        sp = _species(rng, i)
        a = round(float(rng.uniform(3, 7)), 2)
        sid = f"mc3d{seed}-{i}"
        lines = [
            "data_x",
            *(f"_cell_length_{ax} {a:.2f}" for ax in "abc"),
            *(f"_cell_angle_{ang} 90.0" for ang in ("alpha", "beta", "gamma")),
            "loop_",
            "_atom_site_type_symbol",
            "_atom_site_fract_x",
            "_atom_site_fract_y",
            "_atom_site_fract_z",
            *(f"{el} " + " ".join(f"{x:.3f}" for x in rng.uniform(0, 1, 3)) for el in sp),
        ]
        with open(os.path.join(raw, f"{sid}.cif"), "w") as f:
            f.write("\n".join(lines) + "\n")
        records[sid] = {"source_database": "materialscloud", "n_sites": len(sp), "a": a}
    return {"records": records, "band_gaps": band_gaps}
