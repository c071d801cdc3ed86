"""Materials Cloud MC3D loader (reference: crystpqdb/loaders/mc3d.py).

Source shape: an archive of CIF files, one structure each. The reference
parses them driver-side with a pymatgen ThreadPool (mc3d.py:90-123, A8); here
the CIF bytes flow through ``spark.read.format("binaryFile")`` into an
Arrow-batched ``mapInPandas`` parser, so parsing scales with executors and
the driver never materializes the corpus.

Parser resolution: pymatgen if importable (not in this container), else a
built-in minimal CIF reader (cell parameters + atom-site loop + standard
fractional→Cartesian conversion) sufficient for well-formed files. The
engine-generated ``id`` column is dropped before re-ingest, mirroring
mc3d.py:125-126 (A16).
"""

from __future__ import annotations

import math
import os
import re
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from crystal_parquet_database_spark.schema import lattice_struct, sql_str, structure_struct
from crystal_parquet_database_spark.sources.base import BaseLoader

_CELL_KEYS = {
    "_cell_length_a": "a",
    "_cell_length_b": "b",
    "_cell_length_c": "c",
    "_cell_angle_alpha": "alpha",
    "_cell_angle_beta": "beta",
    "_cell_angle_gamma": "gamma",
}


def _quantize_occu(occu: float) -> int:
    """Quantize a float occupancy to the canonical int64 schema, half-UP:
    floor(x+0.5), not Python round()'s half-to-even — banker's rounding
    would send the canonical 0.5 partial occupancy to 0, silently erasing
    the species from the site."""
    return int(math.floor(occu + 0.5))


def _lattice_matrix(a, b, c, alpha, beta, gamma):
    ar, br, gr = math.radians(alpha), math.radians(beta), math.radians(gamma)
    ca, cb, cg, sg = math.cos(ar), math.cos(br), math.cos(gr), math.sin(gr)
    v = math.sqrt(max(0.0, 1 - ca * ca - cb * cb - cg * cg + 2 * ca * cb * cg))
    return [
        [a, 0.0, 0.0],
        [b * cg, b * sg, 0.0],
        [c * cb, c * (ca - cb * cg) / sg, c * v / sg],
    ], a * b * c * v


def parse_cif_minimal(text: str) -> dict | None:
    """Minimal CIF subset: cell parameters + _atom_site loop with type symbol
    and fractional coordinates."""
    # normalize line endings: the loop regex matches literal \n, and a CRLF
    # file (CIFs zipped on Windows are routine) would otherwise fail every
    # parse and silently ingest an empty dataset
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    cell = {}
    for key, name in _CELL_KEYS.items():
        m = re.search(rf"{key}\s+([-\d.]+)", text)
        if not m:
            return None
        cell[name] = float(m.group(1))
    # Scan loop_ blocks STRUCTURALLY. A single regex binding the FIRST loop
    # whose headers start with _atom_site fails silently three ways: an
    # anisotropic-displacement loop (_atom_site_aniso_*) listed before the
    # main site loop drops the whole file, a blank line inside the body
    # truncates the sites after it, and a line-wrapped row is skipped. CIF newlines are plain whitespace: headers are
    # the consecutive `_tag` lines after `loop_`; the body is every
    # whitespace token until the next loop_/data_/_tag keyword, chunked by
    # header count (wrapped rows and interior blank lines both fine).
    # Quoted multi-word values are out of scope for this minimal parser.
    needed = ["_atom_site_type_symbol", "_atom_site_fract_x", "_atom_site_fract_y", "_atom_site_fract_z"]
    found = None
    lines = text.split("\n")
    i = 0
    while i < len(lines):
        if lines[i].strip().split()[:1] == ["loop_"]:
            i += 1
            headers = []
            while i < len(lines):
                h = lines[i].strip()
                if not h:  # blank lines around the header block are legal
                    i += 1
                    continue
                if not h.startswith("_"):
                    break
                headers.append(h.split()[0])
                i += 1
            tokens: list[str] = []
            while i < len(lines):
                s = lines[i].strip()
                if s.startswith(("loop_", "data_", "_")):
                    break
                if s and not s.startswith("#"):
                    tokens.extend(s.split())
                i += 1
            if headers and all(n in headers for n in needed):
                found = (headers, tokens)
                break
        else:
            i += 1
    if not found:
        return None
    headers, tokens = found
    idx = {h: k for k, h in enumerate(headers)}
    if not tokens or len(tokens) % len(headers) != 0:
        # a row with the wrong token count means we would misalign every
        # later value — REJECT the file (a truncated structure ingested as
        # valid is worse than a dropped one; the caller records the skip)
        return None
    matrix, volume = _lattice_matrix(
        cell["a"], cell["b"], cell["c"], cell["alpha"], cell["beta"], cell["gamma"]
    )
    species, frac, cart = [], [], []
    for row_start in range(0, len(tokens), len(headers)):
        parts = tokens[row_start : row_start + len(headers)]
        # strip an oxidation-state suffix first ('Fe3+', 'O2-' are routine
        # in ionic CIFs), then residual multiplicity digits ('Fe2')
        el = re.sub(r"\d+$", "", re.sub(r"\d*[+-]$", "", parts[idx["_atom_site_type_symbol"]]))
        f3 = [float(parts[idx[f"_atom_site_fract_{ax}"]]) for ax in "xyz"]
        x3 = [sum(f3[k] * matrix[k][j] for k in range(3)) for j in range(3)]
        species.append(el)
        frac.append(f3)
        cart.append(x3)
    if not species:
        return None
    lattice = {
        "matrix": matrix,
        "a": cell["a"],
        "b": cell["b"],
        "c": cell["c"],
        "alpha": cell["alpha"],
        "beta": cell["beta"],
        "gamma": cell["gamma"],
        "volume": volume,
        "pbc": [True, True, True],
    }
    sites = [
        {
            "species": [{"element": el, "occu": 1}],
            "abc": f3,
            "xyz": x3,
            "properties": None,
            "label": el,
        }
        for el, f3, x3 in zip(species, frac, cart)
    ]
    return {
        "species": species,
        "frac_coords": frac,
        "cart_coords": cart,
        "lattice": lattice,
        "structure": {
            "@module": "pymatgen.core.structure",
            "@class": "Structure",
            "lattice": lattice,
            "sites": sites,
            "charge": 0.0,
        },
    }


def _parse_cif(text: str) -> dict | None:
    """One CIF's record, or None; a malformed file may also raise, and
    ``_parse_partition`` skips it either way."""
    try:  # pymatgen path (A8) — not present in this container
        from pymatgen.core import Structure  # type: ignore
    except ImportError:
        return parse_cif_minimal(text)
    s = Structure.from_str(text, fmt="cif")
    d = s.as_dict()
    # the canonical schema declares species occupancy int64 (reference
    # parity: the reference's site_struct, crystpqdb/db.py:5-19), but
    # pymatgen emits floats (0.5 for partial occupancy). Quantize HERE,
    # explicitly and deterministically — otherwise Spark's unsafe Arrow
    # conversion silently truncates 0.5 → 0 with no error. Partial
    # occupancies are genuinely lossy under the reference's own schema;
    # round-to-nearest is the least-wrong deterministic choice
    # (half-UP via floor(x+0.5), not Python round()'s half-to-even —
    # banker's rounding would quantize the canonical 0.5 partial
    # occupancy to 0, erasing the species from the site entirely).
    for site in d.get("sites", []):
        for sp in site.get("species", []):
            if "occu" in sp and sp["occu"] is not None:
                sp["occu"] = _quantize_occu(sp["occu"])
    # per-site dominant species, disordered-safe: s.species (one specie
    # per site) raises AttributeError for ANY disordered site, which
    # _parse_partition would turn into a skip of every
    # partial-occupancy structure — the exact files the occupancy
    # quantization above exists for (and the minimal parser ingests the
    # same file, so results differed by environment). site.species is a
    # Composition for ordered and disordered sites alike; take the
    # max-occupancy species, ties broken by symbol (deterministic).
    def _site_symbol(site) -> str:
        items = sorted(site.species.items(), key=lambda kv: (-kv[1], str(kv[0])))
        return str(items[0][0])

    return {
        "species": [_site_symbol(site) for site in s.sites],
        "frac_coords": [list(map(float, fc)) for fc in s.frac_coords],
        "cart_coords": [list(map(float, cc)) for cc in s.cart_coords],
        "lattice": d["lattice"],
        "structure": d,
    }


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType()),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("cart_coords", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("frac_coords", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("lattice", lattice_struct),
        # the canonical structure schema, ONE definition (schema.py) — a
        # field-by-field copy here silently diverged from it as soon as
        # structure_struct changed, and MC3D rows stopped unifying cleanly
        T.StructField("structure", structure_struct),
    ]
)


def _parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rec = _parse_cif(bytes(content).decode("utf-8", errors="replace"))
            except Exception as e:
                # e.g. esd notation '0.5(2)' passes the header regexes but
                # fails float() in the minimal parser, or pymatgen rejects
                # the file — skip it and say why, never fail the ingest
                msg = str(e).replace("\n", " ")
                print(f"mc3d: skipped {path}: {type(e).__name__}: {msg}", file=sys.stderr)
                rec = None
            if rec is None:
                continue
            rec["source_id"] = os.path.splitext(os.path.basename(path))[0]
            rows.append(rec)
        yield pd.DataFrame(rows, columns=[f.name for f in _OUT_SCHEMA.fields])


class MC3DLoader(BaseLoader):
    source_database = "materialscloud"
    source_dataset = "mc3d"

    archive_url: str | None = None

    def _download(self, raw_dir: str) -> None:
        """Archive fetch + unzip (reference A7, mc3d.py:41-88); driver-side.
        Offline runs pre-place .cif files in raw_dir."""
        if self.archive_url is None:
            raise FileNotFoundError(
                f"no raw files in {raw_dir} and no archive_url configured; "
                "place .cif files there or set archive_url"
            )
        import shutil
        import tempfile
        import urllib.request
        import zipfile

        # stream to a spooled temp FILE, not an in-memory BytesIO of the
        # whole archive — a multi-GB MC3D drop must not need driver heap of
        # its own size. (Partial-extract protection comes from the stage
        # completion marker in base.download(): a crash mid-extract leaves
        # no marker, so the next run re-downloads and re-extracts.)
        with tempfile.TemporaryFile(dir=raw_dir) as tmp:
            with urllib.request.urlopen(
                self.archive_url, timeout=self.config.timeout_seconds
            ) as r:
                shutil.copyfileobj(r, tmp, length=1024 * 1024)
            tmp.seek(0)
            with zipfile.ZipFile(tmp) as z:
                z.extractall(raw_dir)

    def _read_raw(self, spark: SparkSession, raw_dir: str) -> DataFrame:
        binary = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.cif")
            .option("recursiveFileLookup", "true")
            .load(raw_dir)
            .select("path", "content")
        )
        return binary.mapInPandas(_parse_partition, schema=_OUT_SCHEMA)

    def _transform(self, df: DataFrame) -> DataFrame:
        if "id" in df.columns:  # engine column must not re-ingest (mc3d.py:125-126)
            df = df.drop("id")
        return df.selectExpr(
            f"{sql_str(self.source_database)} AS source_database",
            f"{sql_str(self.source_dataset)} AS source_dataset",
            "source_id",
            "species",
            "cart_coords",
            "frac_coords",
            "lattice",
            "structure",
        )
