"""Loader pipeline tests on synthetic source fixtures (shapes per FIXTURES.md
B2/B3 mirroring the reference's source formats)."""

from __future__ import annotations

import bz2
import json
import os
import shutil
import tempfile

import pytest

from crystal_parquet_database_spark.schema import crystal_schema
from crystal_parquet_database_spark.sources import LoaderConfig, LoaderFactory, get_loader


def _structure(n_sites: int, seed: int) -> dict:
    els = ["Si", "O", "Fe", "Na"]
    lattice = {
        "matrix": [[4.0, 0.0, 0.0], [0.0, 4.0, 0.0], [0.0, 0.0, 4.0]],
        "a": 4.0, "b": 4.0, "c": 4.0,
        "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
        "volume": 64.0, "pbc": [True, True, True],
    }
    sites = []
    for i in range(n_sites):
        el = els[(seed + i) % len(els)]
        frac = [((seed + i * 7 + j) % 10) / 10.0 for j in range(3)]
        sites.append(
            {
                "species": [{"element": el, "occu": 1}],
                "abc": frac,
                "xyz": [f * 4.0 for f in frac],
                "properties": {"magmom": 0.5, "charge": 0.0, "forces": [0.0, 0.0, 0.0]},
                "label": el,
            }
        )
    return {
        "@module": "pymatgen.core.structure",
        "@class": "Structure",
        "lattice": lattice,
        "sites": sites,
        "charge": 0.0,
    }


@pytest.fixture()
def data_dir():
    with tempfile.TemporaryDirectory(prefix="loaders_") as d:
        yield d


def test_alexandria_end_to_end(spark, data_dir):
    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw)
    entries = [
        {
            "data": {
                "mat_id": f"agm-{i}",
                "band_gap_ind": 1.1 + i,
                "band_gap_dir": 1.5 + i,
                "dos_ef": 0.3,
                "energy_total": -10.0 - i,
                "energy_corrected": -9.5 - i,
                "e_form": -1.0 - i,
                "e_above_hull": 0.1 * i,
                "e_phase_separation": 0.2,
                "total_mag": 2.0,
            },
            "structure": _structure(n_sites=2 + i, seed=i),
        }
        for i in range(4)
    ]
    with open(os.path.join(raw, "alexandria_000.json"), "w") as f:
        json.dump({"entries": entries[:2]}, f)
    with bz2.open(os.path.join(raw, "alexandria_001.json.bz2"), "wt") as f:
        json.dump({"entries": entries[2:]}, f)

    loader = get_loader(spark, "alex", "3d", LoaderConfig(data_dir=data_dir))
    out = loader.run()
    rows = {r["source_id"]: r for r in out.collect()}
    assert len(rows) == 4
    # canonical prefix
    assert [f.name for f in out.schema.fields][:11] == [f.name for f in crystal_schema.fields]
    r0 = rows["agm-0"]
    assert r0["source_database"] == "alex" and r0["source_dataset"] == "3d"
    assert r0["species"] == ["Si", "O"]
    assert r0["data"]["energy_formation"] == -1.0
    # deliberate reference alias (alexandria.py:170)
    assert r0["data"]["energy_uncorrected"] == r0["data"]["energy_total"] == -10.0
    # null-padded canonical fields
    assert r0["symmetry"] is None and r0["has_props"] is None
    # nested passthrough
    assert r0["structure"]["sites"][0]["species"][0]["element"] == "Si"
    assert r0["cart_coords"] == [s["xyz"] for s in r0["structure"]["sites"]]

    # idempotent re-run (stages skip; same result)
    out2 = loader.run()
    assert out2.count() == 4


def test_mp_end_to_end(spark, data_dir):
    raw = os.path.join(data_dir, "materials_project", "summary", "raw")
    os.makedirs(raw)
    docs = [
        {
            "material_id": f"mp-{i}",
            "band_gap": 0.5 * i,
            "total_energy": -20.0 - i,
            "uncorrected_energy": -19.0 - i,
            "formation_energy_per_atom": -0.5,
            "e_above_hull": 0.0,
            "total_magnetization": 1.0,
            "magnetic_ordering": "FM",
            "is_gap_direct": True,
            "is_stable": i % 2 == 0,
            "symmetry": {
                "crystal_system": "cubic",
                "symbol": "Pm-3m",
                "number": 221,
                "point_group": "m-3m",
                "symprec": 0.1,
                "angle_tolerance": 5.0,
                "version": "2.0.1",
            },
            "has_props": {"materials": True, "thermo": True, "magnetism": False},
            "structure": _structure(n_sites=3, seed=i),
        }
        for i in range(3)
    ]
    with open(os.path.join(raw, "summary_docs.json"), "w") as f:
        json.dump(docs, f)

    loader = get_loader(spark, "materials_project", "summary", LoaderConfig(data_dir=data_dir))
    out = loader.run()
    rows = {r["source_id"]: r for r in out.collect()}
    assert len(rows) == 3
    r = rows["mp-1"]
    # deliberate reference alias (mp.py:135)
    assert r["data"]["energy_corrected"] == r["data"]["energy_total"] == -21.0
    assert r["data"]["energy_uncorrected"] == -20.0
    assert r["symmetry"]["symbol"] == "Pm-3m" and r["symmetry"]["number"] == 221
    assert r["has_props"]["materials"] is True
    # canonical has_props fields absent from the source are null-padded
    assert r["has_props"]["xas"] is None
    # unmapped canonical data fields are null
    assert r["data"]["g_vrh"] is None


_CIF = """data_test
_cell_length_a 4.00
_cell_length_b 4.00
_cell_length_c 4.00
_cell_angle_alpha 90.0
_cell_angle_beta 90.0
_cell_angle_gamma 90.0
loop_
_atom_site_type_symbol
_atom_site_fract_x
_atom_site_fract_y
_atom_site_fract_z
Si 0.00 0.00 0.00
O 0.50 0.50 0.50
"""


def test_mc3d_end_to_end(spark, data_dir):
    raw = os.path.join(data_dir, "materialscloud", "mc3d", "raw")
    os.makedirs(raw)
    for i in range(3):
        with open(os.path.join(raw, f"mc3d-{i}.cif"), "w") as f:
            f.write(_CIF)

    loader = get_loader(spark, "materialscloud", "mc3d", LoaderConfig(data_dir=data_dir))
    out = loader.run()
    rows = {r["source_id"]: r for r in out.collect()}
    assert set(rows) == {"mc3d-0", "mc3d-1", "mc3d-2"}
    r = rows["mc3d-0"]
    assert r["species"] == ["Si", "O"]
    assert r["frac_coords"][1] == [0.5, 0.5, 0.5]
    assert r["cart_coords"][1] == [2.0, 2.0, 2.0]
    assert r["lattice"]["volume"] == 64.0
    assert r["structure"]["sites"][1]["label"] == "O"
    assert r["data"] is None  # CIFs carry no physics properties


def test_factory_error_lists_available(spark):
    with pytest.raises(KeyError, match="alex"):
        LoaderFactory.get_loader(spark, "nope", "nada")
    assert ("materialscloud", "mc3d") in LoaderFactory.available()


def test_alexandria_python_datasource_executor_parallel(spark, tmp_path):
    """The alexandria_json Python DataSource: one partition per file (the
    ingestion-parallelism contract), entries exploded to rows, payloads
    round-trippable JSON."""
    import bz2 as _bz2
    import json as _json

    from pyspark.sql import functions as F

    from crystal_parquet_database_spark.sources.alexandria_datasource import (
        AlexandriaJsonDataSource,
    )

    files = []
    for i in range(3):
        doc = {"entries": {f"agm-{i}-{j}": {"energy": -float(j)} for j in range(4)}}
        p = tmp_path / f"alex_{i:03d}.json.bz2"
        p.write_bytes(_bz2.compress(_json.dumps(doc).encode()))
        files.append(str(p))

    spark.dataSource.register(AlexandriaJsonDataSource)
    df = spark.read.format("alexandria_json").option("files", ",".join(files)).load()
    assert df.count() == 12
    # one partition per file
    n_parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 3
    row = df.filter(F.col("entry_id") == "agm-1-2").first()
    assert _json.loads(row["payload"]) == {"energy": -2.0}
    assert row["source_file"].endswith("alex_001.json.bz2")


def test_alexandria_datasource_list_shaped_entries(spark, tmp_path):
    """Canonical Alexandria format (reference: data.get("entries", [])) holds
    entries as a LIST of dicts with ids at data.mat_id — the reader must
    handle it, not just the dict-of-id variant."""
    import bz2 as _bz2
    import json as _json

    from crystal_parquet_database_spark.sources.alexandria_datasource import (
        AlexandriaJsonDataSource,
    )

    doc = {
        "entries": [
            {"data": {"mat_id": "agm-100", "e_form": -1.0}, "structure": {}},
            {"data": {"mat_id": "agm-101", "e_form": -2.0}, "structure": {}},
            {"no_data_key": True},  # id falls back to positional index
        ]
    }
    p = tmp_path / "alex_list.json.bz2"
    p.write_bytes(_bz2.compress(_json.dumps(doc).encode()))

    spark.dataSource.register(AlexandriaJsonDataSource)
    df = spark.read.format("alexandria_json").option("files", str(p)).load()
    rows = {r["entry_id"]: _json.loads(r["payload"]) for r in df.collect()}
    assert set(rows) == {"agm-100", "agm-101", "2"}
    assert rows["agm-101"]["data"]["e_form"] == -2.0


def test_failed_refresh_over_preplaced_corpus_clears_sentinel(data_dir):
    """Regression (round-7 review): with a PRE-PLACED corpus in raw_dir, a
    failed download_from_scratch attempt kept _DOWNLOAD_STARTED (the old
    cleanup only reverted when the dir held NO corpus files), so every later
    default run skipped the pre-placed branch and re-raised the download
    error forever. An attempt that ADDED nothing must revert its own
    sentinel; one that added files keeps it (the resume case)."""
    import pytest

    from crystal_parquet_database_spark.sources.base import BaseLoader, LoaderConfig

    calls = []

    class FailingLoader(BaseLoader):
        source_database = "failing_preplaced"
        source_dataset = "x"

        def _download(self, raw_dir):
            calls.append(raw_dir)
            raise FileNotFoundError("no index; place dump files in raw_dir")

        def _read_raw(self, spark, raw_dir):  # pragma: no cover
            raise NotImplementedError

        def _transform(self, df):  # pragma: no cover
            raise NotImplementedError

    ldr = FailingLoader.__new__(FailingLoader)
    ldr.spark = None
    ldr.config = LoaderConfig(data_dir=data_dir, download_from_scratch=True)
    os.makedirs(ldr.raw_dir, exist_ok=True)
    with open(os.path.join(ldr.raw_dir, "dump.json"), "w") as fh:
        fh.write("{}")  # the user's pre-placed corpus
    with pytest.raises(FileNotFoundError):
        ldr.download()
    assert not os.path.exists(os.path.join(ldr.raw_dir, "_DOWNLOAD_STARTED"))
    # default run now honors the pre-placed corpus without re-entering
    ldr.config = LoaderConfig(data_dir=data_dir)
    assert ldr.download() == ldr.raw_dir
    assert len(calls) == 1

    # contrast: an attempt that DID add a file keeps the sentinel (resume)
    class PartialLoader(FailingLoader):
        source_database = "failing_partial"

        def _download(self, raw_dir):
            with open(os.path.join(raw_dir, "part_0.json"), "w") as fh:
                fh.write("{}")
            raise ConnectionError("died mid-corpus")

    p = PartialLoader.__new__(PartialLoader)
    p.spark = None
    p.config = LoaderConfig(data_dir=data_dir)
    with pytest.raises(ConnectionError):
        p.download()
    assert os.path.exists(os.path.join(p.raw_dir, "_DOWNLOAD_STARTED"))


def test_alexandria_datasource_bare_entry_dict(spark, tmp_path):
    """Regression (round-7 review): a file holding ONE unwrapped entry
    {'data': ..., 'structure': ...} was misread as an id→entry map, yielding
    two garbage rows keyed 'data'/'structure' whose payloads were entry
    FRAGMENTS. It must yield one row keyed by data.mat_id."""
    import json as _json

    from crystal_parquet_database_spark.sources.alexandria_datasource import (
        AlexandriaJsonDataSource,
    )

    doc = {"data": {"mat_id": "agm-777", "e_form": -3.0}, "structure": {"sites": []}}
    p = tmp_path / "alex_bare.json"
    p.write_text(_json.dumps(doc))

    spark.dataSource.register(AlexandriaJsonDataSource)
    df = spark.read.format("alexandria_json").option("files", str(p)).load()
    rows = {r["entry_id"]: _json.loads(r["payload"]) for r in df.collect()}
    assert set(rows) == {"agm-777"}
    assert rows["agm-777"]["data"]["e_form"] == -3.0
    assert rows["agm-777"]["structure"] == {"sites": []}


def test_ingest_from_scratch_rebuilds_not_appends(spark, data_dir):
    """Regression: ingest_from_scratch must REBUILD the interim PqDB.
    create() appends, so re-ingesting over the existing DB would silently
    duplicate every row under fresh ids."""
    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw)
    entries = [
        {
            "data": {
                "mat_id": f"agm-{i}",
                "band_gap_ind": 1.1, "band_gap_dir": 1.5, "dos_ef": 0.3,
                "energy_total": -1.0 * i, "energy_corrected": -1.0 * i,
                "e_form": -1.0, "e_above_hull": 0.0,
                "e_phase_separation": 0.2, "total_mag": 2.0,
            },
            "structure": _structure(2, i),
        }
        for i in range(4)
    ]
    with open(os.path.join(raw, "alexandria_000.json"), "w") as f:
        json.dump({"entries": entries}, f)

    loader = get_loader(spark, "alex", "3d", LoaderConfig(data_dir=data_dir))
    assert loader.run().count() == 4
    # re-run from scratch: same 4 rows, not 8
    loader.config.ingest_from_scratch = True
    assert loader.run().count() == 4
    ids = sorted(r["id"] for r in loader.ingest().read(columns=["id"]).collect())
    assert ids == [0, 1, 2, 3]


def test_index_pattern_not_greedy():
    """Regression: a standard autoindex line repeats the filename in href AND
    anchor text; a greedy pattern matched across the closing quote."""
    from crystal_parquet_database_spark.sources.alexandria import INDEX_FILE_PATTERN

    html = (
        '<a href="alexandria_000.json.bz2">alexandria_000.json.bz2</a> '
        '<a href="alexandria_001.json.bz2">alexandria_001.json.bz2</a>'
    )
    names = INDEX_FILE_PATTERN.findall(html)
    assert sorted(set(names)) == ["alexandria_000.json.bz2", "alexandria_001.json.bz2"]


def test_cif_parser_accepts_crlf():
    """Regression: CIFs zipped on Windows arrive with CRLF line endings; the
    loop regex previously failed every parse (silent empty ingest)."""
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        "data_x\n_cell_length_a 4\n_cell_length_b 5\n_cell_length_c 6\n"
        "_cell_angle_alpha 90\n_cell_angle_beta 90\n_cell_angle_gamma 90\n"
        "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
        "_atom_site_fract_y\n_atom_site_fract_z\nSi 0.25 0.25 0.25\n"
    )
    unix = parse_cif_minimal(cif)
    crlf = parse_cif_minimal(cif.replace("\n", "\r\n"))
    assert unix is not None and crlf is not None
    assert crlf["species"] == unix["species"] == ["Si"]
    assert crlf["lattice"]["volume"] == unix["lattice"]["volume"]


def test_cif_parser_accepts_trailing_whitespace_on_headers():
    """Regression (round-7 review): '_atom_site_fract_x  \\n' (trailing
    spaces after a header tag — routine in hand-edited CIFs) failed the
    loop regex because \\S* stops at the space and \\n had to follow
    directly — the whole file silently dropped from ingest."""
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        "data_x\n_cell_length_a 4\n_cell_length_b 5\n_cell_length_c 6\n"
        "_cell_angle_alpha 90\n_cell_angle_beta 90\n_cell_angle_gamma 90\n"
        "loop_\n_atom_site_type_symbol  \n_atom_site_fract_x \t\n"
        "_atom_site_fract_y\n_atom_site_fract_z\nSi 0.25 0.25 0.25\n"
    )
    out = parse_cif_minimal(cif)
    assert out is not None and out["species"] == ["Si"]


def test_occupancy_quantizes_half_up():
    """Regression (round-7 review): Python round() is half-to-even, which
    sent the canonical 0.5 partial occupancy to 0 — the species vanished
    from the site. The quantizer must round halves UP consistently."""
    from crystal_parquet_database_spark.sources.mc3d import _quantize_occu

    assert _quantize_occu(0.5) == 1
    assert _quantize_occu(1.5) == 2
    assert _quantize_occu(2.5) == 3
    assert _quantize_occu(0.49) == 0
    assert _quantize_occu(1.0) == 1


def test_interrupted_from_scratch_refresh_invalidates_complete(data_dir):
    """Regression (round-7 review): a download_from_scratch refresh killed
    mid-run used to leave the PREVIOUS run's COMPLETE sentinel behind, so
    every later default run returned early on it and silently ingested the
    half-refreshed mixed corpus. A new attempt must invalidate COMPLETE
    before it starts, making the interrupted state a resumable STARTED."""
    from crystal_parquet_database_spark.sources.base import BaseLoader, LoaderConfig

    calls = []

    class Ldr(BaseLoader):
        source_database = "scratchkill"
        source_dataset = "x"

        def _download(self, raw_dir):
            calls.append(raw_dir)
            if len(calls) == 1:  # first (full) run
                with open(os.path.join(raw_dir, "old.json"), "w") as fh:
                    fh.write("{}")
                return
            if len(calls) == 2:  # the refresh: dies mid-run
                with open(os.path.join(raw_dir, "new.json"), "w") as fh:
                    fh.write("{}")
                raise RuntimeError("killed mid-refresh")
            with open(os.path.join(raw_dir, "new2.json"), "w") as fh:
                fh.write("{}")

        def _read_raw(self, spark, raw_dir):  # pragma: no cover
            raise NotImplementedError

        def _transform(self, df):  # pragma: no cover
            return df

    ldr = Ldr(None, LoaderConfig(data_dir=str(data_dir)))
    ldr.download()  # full run → COMPLETE
    complete = os.path.join(ldr.raw_dir, "_DOWNLOAD_COMPLETE")
    started = os.path.join(ldr.raw_dir, "_DOWNLOAD_STARTED")
    assert os.path.exists(complete)

    ldr.config = LoaderConfig(data_dir=str(data_dir), download_from_scratch=True)
    with pytest.raises(RuntimeError, match="killed mid-refresh"):
        ldr.download()
    # the stale COMPLETE is gone; the partial refresh is a resumable STARTED
    assert not os.path.exists(complete)
    assert os.path.exists(started)

    # a later DEFAULT run must re-enter _download (resume), not early-return
    ldr.config = LoaderConfig(data_dir=str(data_dir))
    ldr.download()
    assert len(calls) == 3
    assert os.path.exists(complete)
    assert not os.path.exists(started)


def test_download_resumes_interrupted_run(data_dir):
    """A run killed mid-download leaves the STARTED sentinel; the next run
    must re-enter _download (resuming missing files) instead of ingesting the
    partial corpus. A pre-placed dir WITHOUT the sentinel is the offline
    contract and must still skip the download entirely."""
    from crystal_parquet_database_spark.sources.base import BaseLoader

    calls = []

    class FakeLoader(BaseLoader):
        source_database = "fake"
        source_dataset = "x"

        def _download(self, raw_dir):
            calls.append(raw_dir)
            with open(os.path.join(raw_dir, "file_b.json"), "w") as fh:
                fh.write("{}")

        def _read_raw(self, spark, raw_dir):  # pragma: no cover
            raise NotImplementedError

        def _transform(self, df):  # pragma: no cover
            raise NotImplementedError

    ldr = FakeLoader.__new__(FakeLoader)
    ldr.spark = None
    from crystal_parquet_database_spark.sources.base import LoaderConfig

    ldr.config = LoaderConfig(data_dir=data_dir)

    raw = ldr.raw_dir
    os.makedirs(raw)
    # simulate the interrupted run: one file landed, sentinel still STARTED
    with open(os.path.join(raw, "file_a.json"), "w") as fh:
        fh.write("{}")
    with open(os.path.join(raw, "_DOWNLOAD_STARTED"), "w") as fh:
        fh.write("in-progress\n")

    ldr.download()
    assert calls == [raw]  # re-entered despite non-empty dir
    assert os.path.exists(os.path.join(raw, "_DOWNLOAD_COMPLETE"))
    assert not os.path.exists(os.path.join(raw, "_DOWNLOAD_STARTED"))

    ldr.download()
    assert calls == [raw]  # second run skips via the COMPLETE marker

    # offline contract: pre-placed corpus, no sentinels -> no download call
    import shutil

    shutil.rmtree(raw)
    os.makedirs(raw)
    with open(os.path.join(raw, "preplaced.json"), "w") as fh:
        fh.write("{}")
    ldr.download()
    assert calls == [raw]


def test_alexandria_part_files_hidden_from_read_glob(tmp_path):
    """Interrupted fetches leave dot-prefixed temp files that Spark readers
    skip; a suffix-style 'x.json.bz2.part' would match the read glob."""
    import fnmatch

    assert fnmatch.fnmatch("alexandria_003.json.bz2.part", "*.json*")  # the trap
    # what matters: Spark/Hadoop readers skip hidden files (leading '.' or
    # '_') regardless of glob, so the temp name must be DOT-PREFIXED — pin
    # the actual naming scheme the downloader uses
    from crystal_parquet_database_spark.sources.alexandria import _tmp_name

    tmp = _tmp_name("alexandria_003.json.bz2")
    assert tmp.startswith(".")
    assert tmp.endswith(".part")


def test_dot_temp_only_dir_retries_download(data_dir):
    """Regression (round-7 review): a first fetch that died mid-file leaves
    only a dot-prefixed '.x.part' temp; the failure cleanup removes the
    STARTED sentinel (nothing real was downloaded), and the pre-placed
    check must NOT count the hidden temp as corpus content — otherwise
    download() never retries and the read glob sees an empty corpus."""
    from crystal_parquet_database_spark.sources.base import BaseLoader, LoaderConfig

    calls = []

    class Ldr(BaseLoader):
        source_database = "dotretry"
        source_dataset = "x"

        def _download(self, raw_dir):
            calls.append(raw_dir)
            with open(os.path.join(raw_dir, "real.json"), "w") as fh:
                fh.write("{}")

        def _read_raw(self, spark, raw_dir):  # pragma: no cover
            raise NotImplementedError

        def _transform(self, df):  # pragma: no cover
            return df

    ldr = Ldr(None, LoaderConfig(data_dir=str(data_dir)))
    os.makedirs(ldr.raw_dir, exist_ok=True)
    with open(os.path.join(ldr.raw_dir, ".alexandria_000.json.bz2.part"), "w") as fh:
        fh.write("partial")
    ldr.download()
    assert calls == [ldr.raw_dir]  # retried despite the leftover temp


def test_failed_empty_download_clears_sentinel(data_dir):
    """Regression: a download attempt that failed before fetching ANYTHING
    used to leave _DOWNLOAD_STARTED behind, permanently masking the
    pre-placed-files branch — the user would follow the error's advice,
    drop a corpus in raw_dir, and still be routed into _download forever."""
    import pytest

    from crystal_parquet_database_spark.sources.base import BaseLoader, LoaderConfig

    calls = []

    class FailingLoader(BaseLoader):
        source_database = "failing"
        source_dataset = "x"

        def _download(self, raw_dir):
            calls.append(raw_dir)
            raise FileNotFoundError("no files and no api key; place a dump in raw_dir")

        def _read_raw(self, spark, raw_dir):  # pragma: no cover
            raise NotImplementedError

        def _transform(self, df):  # pragma: no cover
            raise NotImplementedError

    ldr = FailingLoader.__new__(FailingLoader)
    ldr.spark = None
    ldr.config = LoaderConfig(data_dir=data_dir)
    with pytest.raises(FileNotFoundError):
        ldr.download()
    raw = ldr.raw_dir
    assert not os.path.exists(os.path.join(raw, "_DOWNLOAD_STARTED"))
    # user follows the advice: pre-places the corpus -> honored, no re-entry
    with open(os.path.join(raw, "dump.json"), "w") as fh:
        fh.write("{}")
    assert ldr.download() == raw
    assert calls == [raw]  # _download was NOT re-entered


_CIF_HEAD = (
    "data_x\n_cell_length_a 4\n_cell_length_b 5\n_cell_length_c 6\n"
    "_cell_angle_alpha 90\n_cell_angle_beta 90\n_cell_angle_gamma 90\n"
)


def test_cif_parser_blank_lines_and_wrapped_rows():
    """Round-8 review: CIF newlines are plain whitespace — a blank line
    inside the atom-site loop truncated the sites after it, and a
    line-wrapped row was skipped entirely, both silently."""
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        _CIF_HEAD
        + "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
        "_atom_site_fract_y\n_atom_site_fract_z\n"
        "Si 0.25 0.25 0.25\n\n"      # blank line mid-body
        "O 0.5\n  0.5 0.5\n"          # row wrapped across two lines
    )
    out = parse_cif_minimal(cif)
    assert out is not None
    assert out["species"] == ["Si", "O"]


def test_cif_parser_aniso_loop_first():
    """Round-8 review: an _atom_site_aniso_* loop BEFORE the main site loop
    bound the old first-match regex and dropped the whole file."""
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        _CIF_HEAD
        + "loop_\n_atom_site_aniso_label\n_atom_site_aniso_U_11\nSi1 0.01\n"
        + "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
        "_atom_site_fract_y\n_atom_site_fract_z\nSi 0.25 0.25 0.25\n"
    )
    out = parse_cif_minimal(cif)
    assert out is not None and out["species"] == ["Si"]


def test_cif_parser_rejects_misaligned_rows():
    """A row with the wrong token count would misalign every later value —
    the parser must REJECT the file, never truncate it."""
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        _CIF_HEAD
        + "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
        "_atom_site_fract_y\n_atom_site_fract_z\n"
        "Si 0.25 0.25 0.25\nO 0.5 0.5\n"  # second row short one token
    )
    assert parse_cif_minimal(cif) is None


def test_cif_parser_strips_oxidation_state_suffix():
    from crystal_parquet_database_spark.sources.mc3d import parse_cif_minimal

    cif = (
        _CIF_HEAD
        + "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
        "_atom_site_fract_y\n_atom_site_fract_z\n"
        "Fe3+ 0.0 0.0 0.0\nO2- 0.5 0.5 0.5\nCa2+ 0.25 0.25 0.25\n"
    )
    out = parse_cif_minimal(cif)
    assert out is not None and out["species"] == ["Fe", "O", "Ca"]


def test_cif_partition_skips_and_reports_a_malformed_file(capsys):
    """A CIF whose parse raises is skipped, and the worker's stderr names
    the file and the exception type; the good files still come out."""
    import pandas as pd

    from crystal_parquet_database_spark.sources.mc3d import _parse_partition

    atoms = "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n_atom_site_fract_y\n_atom_site_fract_z\n"
    bad = _CIF_HEAD + atoms + "Si 0.5(2) 0.25 0.25\n"  # esd notation: float() raises
    batch = pd.DataFrame(
        {
            "path": ["file:/raw/a.cif", "file:/raw/bad.cif", "file:/raw/b.cif"],
            "content": [_CIF.encode(), bad.encode(), _CIF.encode()],
        }
    )
    out = pd.concat(list(_parse_partition(iter([batch]))))
    assert list(out["source_id"]) == ["a", "b"]
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1
    assert "file:/raw/bad.cif" in err[0] and "ValueError" in err[0]


def test_index_href_pattern_resolves_subdirs_and_page_urls():
    """Round-8 review: index links into subdirectories and index_url ending
    in a page filename both need browser-style urljoin resolution."""
    from urllib.parse import urljoin

    from crystal_parquet_database_spark.sources.alexandria import (
        extract_index_hrefs,
    )

    html = (
        '<a href="pbe/alexandria_000.json.bz2">alexandria_000.json.bz2</a>'
        '<a href="pbe/alexandria_001.json.bz2">x</a>'
    )
    hrefs = extract_index_hrefs(html)
    assert hrefs == ["pbe/alexandria_000.json.bz2", "pbe/alexandria_001.json.bz2"]
    # round-9 advice: single-quoted and unquoted href values are legal HTML;
    # matching only double quotes silently demoted such indexes to the
    # bare-name fallback, whose root-relative URLs 404 for subdir layouts
    assert extract_index_hrefs(
        "<a href='pbe/alexandria_002.json.bz2'>x</a>"
        "<a href=scan/alexandria_003.json.bz2>y</a>"
    ) == ["pbe/alexandria_002.json.bz2", "scan/alexandria_003.json.bz2"]
    assert (
        urljoin("https://host/data/index.html", hrefs[0])
        == "https://host/data/pbe/alexandria_000.json.bz2"
    )
    assert (
        urljoin("https://host/data/", hrefs[0])
        == "https://host/data/pbe/alexandria_000.json.bz2"
    )


def test_ingest_interrupted_create_rebuilds(spark, data_dir):
    """Round-8 review: a run killed mid-create() left a partially committed
    interim PqDB that every later run served as a silently truncated corpus
    (the download stage had STARTED/COMPLETE sentinels; ingest had none)."""
    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw)
    entries = [
        {"data": {"mat_id": f"agm-{i}"}, "structure": _structure(n_sites=2, seed=i)}
        for i in range(4)
    ]
    with open(os.path.join(raw, "alexandria_000.json"), "w") as f:
        json.dump({"entries": entries}, f)
    loader = get_loader(spark, "alex", "3d", LoaderConfig(data_dir=data_dir))

    # simulate the kill: STARTED marker present + partial (1-row) interim DB
    os.makedirs(loader.interim_db_dir, exist_ok=True)
    marker = loader._ingest_started_marker()
    with open(marker, "w") as f:
        f.write("in-progress\n")
    spark.createDataFrame([{"data": "partial"}]).write.mode("overwrite").parquet(
        loader.interim_db_dir
    )

    pqdb = loader.ingest()
    assert not os.path.exists(marker)  # completed run clears it
    assert pqdb.n_rows == 4  # rebuilt from raw, not the 1-row partial

    # and a COMPLETED interim DB (no marker) is trusted as-is
    again = loader.ingest()
    assert again.n_rows == 4


def test_run_skips_download_when_interim_complete(spark, data_dir):
    """Round-8 review: raw/ deleted after a successful ingest must not
    trigger a pointless full re-download that ingest() never reads."""
    raw = os.path.join(data_dir, "alex", "3d", "raw")
    os.makedirs(raw)
    entries = [
        {"data": {"mat_id": "agm-0"}, "structure": _structure(n_sites=2, seed=0)}
    ]
    with open(os.path.join(raw, "alexandria_000.json"), "w") as f:
        json.dump({"entries": entries}, f)
    loader = get_loader(spark, "alex", "3d", LoaderConfig(data_dir=data_dir))
    loader.run()  # completes ingest
    shutil.rmtree(raw)  # reclaim space

    calls = []
    loader._download = lambda raw_dir: calls.append(raw_dir)  # type: ignore[method-assign]
    out = loader.run()
    assert calls == []  # download stage skipped entirely
    assert out.count() == 1


@pytest.mark.parametrize(
    "source, dataset, pattern, matching, stray",
    [
        ("alex", "3d", "*.json*", ["alexandria_000.json", "alexandria_001.json.bz2"], ["notes.txt"]),
        ("materials_project", "summary", "*.json", ["summary_a.json", "summary_b.json"],
         ["notes.txt", "summary_c.json.bz2"]),
    ],
)
def test_read_raw_filters_directory_like_the_glob(spark, data_dir, source, dataset, pattern, matching, stray):
    """The JSON loaders read their raw directory with a file-name filter
    instead of a glob path (a glob is first stat'ed as a literal path, which
    fails and logs a stack trace). The file set must stay the glob's: the
    matching files only, never a dot-prefixed ``.part`` download temp, a
    ``_DOWNLOAD_*`` sentinel or a non-matching file."""
    from pyspark.sql import functions as F

    loader = get_loader(spark, source, dataset, LoaderConfig(data_dir=data_dir))
    raw = loader.raw_dir
    os.makedirs(raw)

    def write(name: str, tag: str) -> None:
        entries = [
            {"data": {"mat_id": f"agm-{tag}-{j}"}, "structure": _structure(n_sites=2 + j, seed=j)}
            for j in range(2)
        ]
        doc = (
            {"entries": entries}
            if source == "alex"
            else [{"material_id": f"mp-{tag}-{j}", "band_gap": 0.5 * j, "structure": e["structure"]}
                  for j, e in enumerate(entries)]
        )
        opener = bz2.open if name.endswith(".bz2") else open
        with opener(os.path.join(raw, name), "wt") as f:
            json.dump(doc, f)

    for name in matching:
        write(name, name)
    # files outside the set hold valid documents too, so reading any of
    # them would add rows: an in-flight download, non-matching names and
    # both sentinels
    write("." + matching[0] + ".part", "part")
    for name in stray:
        write(name, name)
    for sentinel in ("_DOWNLOAD_STARTED", "_DOWNLOAD_COMPLETE"):
        with open(os.path.join(raw, sentinel), "w") as f:
            f.write("{}\n")

    glob_read = spark.read.option("multiLine", "true").json(os.path.join(raw, pattern))
    if source == "alex":
        glob_read = glob_read.select(F.explode("entries").alias("e")).select("e.data", "e.structure")
    got = loader._read_raw(spark, raw)

    def rows(df):
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())

    assert got.schema == glob_read.schema
    assert rows(got) == rows(glob_read)
    assert len(rows(got)) == 2 * len(matching)


def test_transform_construction_py4j_round_trips(spark, data_dir, py4j_commands):
    """Each loader's ``transform`` (its ``_transform`` projection and the
    canonical cast) is SQL text in ``selectExpr``s: a few dozen py4j
    commands, not one or more per nested field (the Column-API projection
    and cast sent thousands per loader run)."""
    alex = {"data": {"mat_id": "a-0", "e_form": -1.0}, "structure": _structure(2, 0)}
    mp = {"material_id": "mp-0", "band_gap": 0.5, "structure": _structure(2, 1)}
    raws = {
        ("alex", "3d"): ("alexandria_000.json", json.dumps({"entries": [alex]})),
        ("materials_project", "summary"): ("summary_docs.json", json.dumps([mp])),
        ("materialscloud", "mc3d"): ("mc3d-0.cif", _CIF),
    }
    for (source, dataset), (name, text) in raws.items():
        raw = os.path.join(data_dir, source, dataset, "raw")
        os.makedirs(raw)
        with open(os.path.join(raw, name), "w") as f:
            f.write(text)
        loader = get_loader(spark, source, dataset, LoaderConfig(data_dir=data_dir))
        df = loader._read_raw(spark, raw)
        n = py4j_commands(lambda: loader.transform(df))
        assert n <= 40, (source, n)
