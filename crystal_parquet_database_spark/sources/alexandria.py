"""Alexandria loader (reference: crystpqdb/loaders/alexandria.py).

Source shape: index page of ``alexandria_*.json.bz2`` files, each holding
``{"entries": [{"data": {...}, "structure": {...}}, ...]}``. Spark reads
.json.bz2 natively, so the reference's streamed-download + parallel-bz2
stages (A2/A3, alexandria.py:33-62,106-127) collapse into one distributed
``spark.read.json`` + ``explode(entries)``.

Transform parity (alexandria.py:142-190) including the deliberate alias
``energy_uncorrected := energy_total`` (alexandria.py:170) and the
data-field renames e_form→energy_formation, e_above_hull→energy_above_hull,
e_phase_separation→energy_phase_seperation, total_mag→total_magnetization.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crystal_parquet_database_spark.schema import sql_ident
from crystal_parquet_database_spark.sources.base import BaseLoader

_ALEX_DATA_MAP = [  # source data field → canonical data_struct field
    ("band_gap_ind", "band_gap_ind"),
    ("band_gap_dir", "band_gap_dir"),
    ("dos_ef", "dos_ef"),
    ("energy_total", "energy_total"),
    ("energy_total", "energy_uncorrected"),  # deliberate alias (alexandria.py:170)
    ("energy_corrected", "energy_corrected"),
    ("e_form", "energy_formation"),
    ("e_above_hull", "energy_above_hull"),
    ("e_phase_separation", "energy_phase_seperation"),
    ("total_mag", "total_magnetization"),
]

# Non-greedy over a single token: [^"<>\s] stops at the href's closing quote
# or the anchor text boundary. A greedy `.*` would match ACROSS the quote on
# a standard autoindex line (name appears in href AND anchor text), yielding
# 'name">name' garbage URLs and swallowing sibling links on the same line.
INDEX_FILE_PATTERN = re.compile(r"alexandria_[^\"<>\s]*\.json\.bz2")
# Prefer real hrefs when present: an index whose links point into
# SUBDIRECTORIES ('pbe/alexandria_000.json.bz2') needs the full path — the
# bare-name pattern above (kept as the fallback for index pages that list
# names outside anchors) would build root-relative URLs that 404. Accept
# double-quoted, single-quoted, AND unquoted attribute values (all legal
# HTML) — matching only double quotes silently demoted single-quoted
# indexes to the bare-name fallback, rebuilding exactly the 404ing
# root-relative URLs the href branch exists to avoid.
INDEX_HREF_PATTERN = re.compile(
    r"href=(?:\"([^\"<>\s]*alexandria_[^\"<>\s]*\.json\.bz2)\""
    r"|'([^'<>\s]*alexandria_[^'<>\s]*\.json\.bz2)'"
    r"|([^\"'<>\s]*alexandria_[^\"'<>\s]*\.json\.bz2))"
)


def extract_index_hrefs(html: str) -> list[str]:
    """All href'd alexandria file links, in page order. findall yields one
    tuple per match (one group per quote style, exactly one non-empty);
    collapse each to its matched alternative."""
    return [next(g for g in m if g) for m in INDEX_HREF_PATTERN.findall(html)]


def _tmp_name(name: str) -> str:
    """In-flight download temp name: dot-PREFIXED so Spark/Hadoop readers
    (which skip hidden files) and BaseLoader's pre-placed-corpus check (which
    ignores '.'-prefixed entries) never mistake a partial fetch for content;
    a suffixed 'x.json.bz2.part' would match _read_raw's filter '*.json*'."""
    return "." + name + ".part"


class AlexandriaLoader(BaseLoader):
    source_database = "alex"
    source_dataset = "3d"

    index_url: str | None = None  # e.g. the public Alexandria index page

    def _download(self, raw_dir: str) -> None:
        """Scrape the index page for alexandria_*.json.bz2 links and fetch
        them (reference A1/A2, alexandria.py:44-52,106-116). Driver-side,
        import-gated: offline runs pre-place files in raw_dir instead."""
        if self.index_url is None:
            raise FileNotFoundError(
                f"no raw files in {raw_dir} and no index_url configured; "
                "place alexandria_*.json[.bz2] files there or set index_url"
            )
        import urllib.request
        from urllib.parse import urljoin, urlparse

        with urllib.request.urlopen(self.index_url, timeout=self.config.timeout_seconds) as r:
            html = r.read().decode()
        # resolve against the PAGE URL the way a browser would: an index_url
        # ending in a PAGE filename (.html/.htm/.php, or carrying a query
        # string) resolves hrefs against its parent, like the browser that
        # rendered it; anything else is treated as a directory and gets the
        # trailing slash (the old always-a-directory behavior — a version
        # dir like .../v1.2 must NOT be mistaken for a page by its dot)
        base = self.index_url
        if not base.endswith("/") and not re.search(
            r"\.(?:html?|php)$|\?", base.rsplit("/", 1)[-1]
        ):
            base += "/"
        links = list(
            dict.fromkeys(extract_index_hrefs(html))
            or dict.fromkeys(INDEX_FILE_PATTERN.findall(html))
        )
        for href in links:
            url = urljoin(base, href)
            # flatten the href PATH into the local name ('pbe/x.json.bz2' ->
            # 'pbe__x.json.bz2'): two subdirs shipping the same basename
            # (Alexandria hosts one dir per functional) must not collide on
            # one dest — the second would silently skip or overwrite. Bare
            # hrefs keep their bare name, so pre-placed corpora and the
            # idempotent re-run skip keep working unchanged.
            rel = urlparse(href).path if "://" in href else href
            name = rel.lstrip("/").replace("/", "__")
            dest = os.path.join(raw_dir, name)
            if os.path.exists(dest) and not self.config.download_from_scratch:
                continue  # idempotent skip (alexandria.py:35-36)
            # fetch to a temp name and rename atomically: a run killed
            # mid-download must not leave a truncated file that every later
            # run (os.path.exists) treats as complete forever. The temp name
            # is dot-PREFIXED (not suffixed): Spark readers skip hidden
            # files, and a suffixed "x.json.bz2.part" would match
            # _read_raw's filter "*.json*" and feed truncated bz2 to the job.
            tmp = os.path.join(raw_dir, _tmp_name(name))
            with urllib.request.urlopen(url, timeout=self.config.timeout_seconds) as r, open(
                tmp, "wb"
            ) as f:
                while chunk := r.read(1024 * 1024):
                    f.write(chunk)
            os.replace(tmp, dest)

    def _read_raw(self, spark: SparkSession, raw_dir: str) -> DataFrame:
        """A4: one row per entry. Codec inferred from extension (.bz2 ok).
        The directory is read with a file-name filter, not as a glob path:
        Spark stats a glob as a literal path first and logs the failure."""
        raw = (
            spark.read.option("multiLine", "true")
            .option("pathGlobFilter", "*.json*")
            .json(raw_dir)
        )
        return raw.select(F.explode("entries").alias("e")).select("e.data", "e.structure")

    def _transform(self, df: DataFrame) -> DataFrame:
        # null-pad missing data.* fields instead of raising FIELD_NOT_FOUND —
        # partial dumps (a 1d/2d drop lacking a property, a trimmed test
        # fixture) infer a narrower JSON schema, and the canonical-schema
        # cast null-fills downstream anyway; same guarantee the MP loader
        # makes for its flat summary fields (mp.py)
        data_type = df.schema["data"].dataType if "data" in df.columns else None
        present = set(data_type.fieldNames()) if isinstance(data_type, T.StructType) else set()

        def dcol(src: str) -> str:
            return sql_ident("data", src) if src in present else "NULL"

        data = ", ".join(f"{dcol(src)} AS {sql_ident(dst)}" for src, dst in _ALEX_DATA_MAP)
        return df.selectExpr(*self._structure_projection(dcol("mat_id")), f"struct({data}) AS data")


class Alexandria2DLoader(AlexandriaLoader):
    source_dataset = "2d"


class Alexandria1DLoader(AlexandriaLoader):
    source_dataset = "1d"
