"""PqDB CRUD / schema-evolution / layout tests (reference parity: parquetdb
create/read/normalize/stats as used in crystpqdb loaders/base.py)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from crystal_parquet_database_spark.db import PqDB, assign_contiguous_ids


@pytest.fixture()
def db(spark):
    with tempfile.TemporaryDirectory(prefix="pqdb_") as d:
        yield PqDB(spark, d + "/db")


def test_create_assigns_contiguous_ids(spark, db):
    n = db.create([{"x": i, "name": f"r{i}"} for i in range(100)])
    assert n == 100
    ids = sorted(r["id"] for r in db.read(columns=["id"]).collect())
    assert ids == list(range(100))


def test_append_continues_ids(spark, db):
    db.create([{"x": 1}, {"x": 2}])
    db.create([{"x": 3}])
    ids = sorted(r["id"] for r in db.read(columns=["id"]).collect())
    assert ids == [0, 1, 2]


def test_engine_owns_id_column(spark, db):
    """Incoming 'id' columns are dropped (reference: mc3d.py:125-126)."""
    db.create([{"id": 999, "x": 1}])
    assert [r["id"] for r in db.read().collect()] == [0]


def test_schema_evolution_adds_columns(spark, db):
    db.create([{"a": 1}])
    db.create([{"a": 2, "b": "new"}])
    rows = {r["a"]: r["b"] for r in db.read().collect()}
    assert rows == {1: None, 2: "new"}


def test_schema_evolution_widens_types(spark, db):
    db.create([{"a": 1}])
    db.create([{"a": 2.5}])
    dt = dict(db.read().dtypes)["a"]
    assert dt == "double"
    assert sorted(r["a"] for r in db.read().collect()) == [1.0, 2.5]


def test_read_projection_and_filter(spark, db):
    db.create([{"x": i, "y": i * 2} for i in range(10)])
    df = db.read(columns=["x"], filters="x >= 5")
    assert df.columns == ["x"]
    assert sorted(r["x"] for r in df.collect()) == [5, 6, 7, 8, 9]


def test_read_formats(spark, db):
    db.create([{"x": i} for i in range(25)])
    pdf = db.read(load_format="table")
    assert len(pdf) == 25
    batches = list(db.read(load_format="batches", batch_size=10))
    assert [len(b) for b in batches] == [10, 10, 5]


def test_update(spark, db):
    db.create([{"x": i, "tag": "old"} for i in range(5)])
    db.update([{"id": 2, "tag": "new"}, {"id": 4, "tag": "new"}])
    rows = {r["id"]: r["tag"] for r in db.read().collect()}
    assert rows == {0: "old", 1: "old", 2: "new", 3: "old", 4: "new"}


def test_update_small_frame_plans_broadcast_join(spark, db, monkeypatch):
    """A one-row update joins a 5,000-row base through a broadcast with no
    row-count probe: the dup-key guard materializes the persisted update
    frame, so the planner sizes it from the cache."""
    from crystal_parquet_database_spark.plans.inspect import join_strategies

    db.create([{"x": i, "tag": "old"} for i in range(5000)])
    joins = []
    rewrite = PqDB._rewrite

    def spy(self, df, *args, **kwargs):
        joins.append(join_strategies(df))
        return rewrite(self, df, *args, **kwargs)

    monkeypatch.setattr(PqDB, "_rewrite", spy)
    db.update([{"id": 4321, "tag": "new"}])
    assert joins == [["BroadcastHashJoin"]]
    [row] = db.read(filters="id = 4321").collect()
    assert row["tag"] == "new" and row["x"] == 4321


def test_update_null_key_matches_null_row(spark, db):
    """Regression: an update join on plain `on` equality matches no NULL-keyed
    update row (NULL = NULL is NULL), so the call silently no-ops. update()
    keeps the contract of upsert_scd2 and stream ingest: NULL is one
    addressable key."""
    db.create(
        spark.createDataFrame(
            [("a", 1.0), (None, 2.0), ("b", 3.0)], "sku string, price double"
        )
    )
    db.update(
        spark.createDataFrame([(None, 9.0)], "sku string, price double"), on="sku"
    )
    rows = {r["sku"]: r["price"] for r in db.read().collect()}
    assert rows == {"a": 1.0, None: 9.0, "b": 3.0}
    # and the dup guard treats two NULL keys as the same (ambiguous) key
    with pytest.raises(ValueError, match="duplicate key"):
        db.update(
            spark.createDataFrame(
                [(None, 1.0), (None, 2.0)], "sku string, price double"
            ),
            on="sku",
        )


def test_update_rejects_duplicate_keys_and_unknown_columns(spark, db):
    db.create([{"x": i, "tag": "old"} for i in range(3)])
    with pytest.raises(ValueError, match="duplicate key"):
        db.update([{"id": 1, "tag": "a"}, {"id": 1, "tag": "b"}])
    with pytest.raises(ValueError, match="do not exist"):
        db.update([{"id": 1, "nope": "x"}])
    # dataset unharmed by the rejected updates
    assert db.n_rows == 3


def test_delete_by_ids_and_where(spark, db):
    db.create([{"x": i} for i in range(6)])
    db.delete(ids=[0, 1])
    assert db.n_rows == 4
    db.delete(where="x >= 4")
    assert sorted(r["x"] for r in db.read().collect()) == [2, 3]


def test_normalize_rebalances_files(spark, db):
    for _ in range(4):
        db.create([{"x": i} for i in range(50)])
    assert len(db.get_file_sizes()) > 2
    db.normalize(max_rows_per_file=100)
    assert db.n_rows == 200
    assert len(db.get_file_sizes()) == 2
    rg = db.get_n_rows_per_row_group_per_file()
    assert sum(sum(v) for v in rg.values()) == 200


def test_stats(spark, db):
    db.create([{"x": 1, "y": "a"}])
    assert db.n_rows == 1
    assert db.n_columns == 3  # x, y, id
    assert {f.name for f in db.get_schema().fields} == {"x", "y", "id"}
    assert all(s > 0 for s in db.get_file_sizes().values())
    assert all(n >= 1 for n in db.get_number_of_row_groups_per_file().values())
    assert all(
        sum(v) > 0 for v in db.get_row_group_sizes_per_file().values()
    )


def test_empty_db_read_raises_clearly(spark, db):
    with pytest.raises(FileNotFoundError, match="call create"):
        db.read()


def test_partitioned_db_prunes(spark):
    import tempfile

    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    with tempfile.TemporaryDirectory(prefix="pqdbp_") as d:
        db = PqDB(spark, d + "/db", partition_by=["source_database"])
        db.create(
            [{"source_database": sdb, "x": i} for i, sdb in enumerate(["alex", "mp", "alex", "mc3d"])]
        )
        # partition dirs on disk
        import os

        assert any("source_database=alex" in p for p in db.get_file_sizes())
        df = db.read(filters="source_database = 'alex'")
        plan = formatted_plan(df)
        assert "PartitionFilters" in plan and "source_database" in plan
        assert sorted(r["x"] for r in df.collect()) == [0, 2]
        # rewrite paths (delete/normalize) preserve partitioning
        db.delete(where="x = 0")
        assert any("source_database=alex" in p for p in db.get_file_sizes())
        assert db.n_rows == 3


def test_assign_contiguous_ids_multipartition(spark):
    df = spark.range(0, 1000).repartition(7).select(F.col("id").alias("v")).drop("id")
    out = assign_contiguous_ids(df, start=100)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == list(range(100, 1100))


# (partitions, predicate): empty partitions at the front, in the middle and
# in runs; spark.range splits are deterministic, so the frame can be
# evaluated again by the reference below
_ID_INPUTS = [
    (1, "true"),
    (4, "v >= 100"),                # partition 0 empty
    (7, "v < 100 OR v >= 400"),     # partitions 1-3 empty
    (100, "v % 200 < 100"),         # every other run of 10 empty
]


def _id_input(spark, n_parts):
    return spark.range(0, 100 * n_parts, 1, n_parts).withColumnRenamed("id", "v")


def _row_number_ids(frame, start):
    """{v: id} by the per-partition row_number formula: rows ordered by
    monotonically_increasing_id within their partition, each partition
    offset by the row counts of the partitions before it."""
    rows = frame.select(
        "v", F.spark_partition_id().alias("p"), F.monotonically_increasing_id().alias("m")
    ).collect()
    counts = {}
    for r in rows:
        counts[r["p"]] = counts.get(r["p"], 0) + 1
    offsets, acc = {}, start
    for p in sorted(counts):
        offsets[p], acc = acc, acc + counts[p]
    by_part = {}
    for r in sorted(rows, key=lambda r: (r["p"], r["m"])):
        by_part.setdefault(r["p"], []).append(r["v"])
    return {v: offsets[p] + i for p, vs in by_part.items() for i, v in enumerate(vs)}


@pytest.mark.parametrize("n_parts,pred", _ID_INPUTS)
def test_ids_equal_row_number_formula(spark, tmp_path, n_parts, pred):
    """assign_contiguous_ids and create (appending after 17 rows, so the
    next id comes from the footers) give every row the id the
    per-partition row_number formula gives it; the small create writes
    exactly one file, and every file holds at least one row group."""
    import pyarrow.parquet as pq

    src = _id_input(spark, n_parts).filter(pred)
    want = _row_number_ids(src, 17)
    got = assign_contiguous_ids(src, start=17)
    assert {r["v"]: r["id"] for r in got.collect()} == want

    db = PqDB(spark, str(tmp_path / "db"))
    db.create([{"v": -1 - i} for i in range(17)])
    first = set(db._data_files())
    assert db.create(src) == len(want)
    back = {r["v"]: r["id"] for r in db.read().collect() if r["v"] >= 0}
    assert back == want
    assert len(set(db._data_files()) - first) == 1
    assert all(pq.ParquetFile(f).num_row_groups >= 1 for f in db._data_files())


def test_create_write_plan_has_no_window_or_broadcast_join(spark, db, monkeypatch):
    """The ids are one projection of the persisted input: the frame create
    writes has no Window and no BroadcastHashJoin, and its only exchange is
    the rebalance that sizes the output files."""
    from crystal_parquet_database_spark import db as db_module
    from crystal_parquet_database_spark.plans.inspect import _numbered_nodes

    written = []
    assign = db_module.assign_contiguous_ids_with_count

    def spy(*args, **kwargs):
        out = assign(*args, **kwargs)
        written.append([op for _i, op in _numbered_nodes(out[0])])
        return out

    monkeypatch.setattr(db_module, "assign_contiguous_ids_with_count", spy)
    db.create([{"x": i} for i in range(50)])
    [ops] = written
    assert "Window" not in ops and "BroadcastHashJoin" not in ops
    assert ops.count("Exchange") == 1


def test_appending_create_job_budget(db, jobs_run):
    """An appending create runs the per-partition count and the write —
    at most 6 jobs; the next id and the row count come from footers
    without a job."""
    db.create([{"x": i} for i in range(20)])
    n, jobs = jobs_run(lambda: db.create([{"x": i} for i in range(20, 30)]))
    assert n == 10 and jobs <= 6
    rows, jobs = jobs_run(lambda: db.n_rows)
    assert rows == 30 and jobs == 0


def test_opens_run_no_job(spark, sf_dir, db, jobs_run):
    """A table open and a PqDB open read the schema from the footers on
    the driver: load_table, read() construction, get_schema and n_columns
    launch no Spark job."""
    from crystal_parquet_database_spark.tables import load_table

    for name in ("orders", "events"):
        _, jobs = jobs_run(lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, name
    db.create([{"x": i, "s": Row(a=i)} for i in range(5)])
    db.create([{"x": 5, "s": Row(a=5, b="new"), "y": 1.5}])
    for fn in (db.read, db.get_schema, lambda: db.n_columns):
        _, jobs = jobs_run(fn)
        assert jobs == 0
    assert db.n_columns == 4


def test_appending_create_runs_at_most_five_jobs(db, jobs_run):
    """With the open job-free, an appending create is the per-partition
    count and the write."""
    db.create([{"x": i} for i in range(20)])
    n, jobs = jobs_run(lambda: db.create([{"x": i} for i in range(20, 30)]))
    assert n == 10 and jobs <= 5


def test_each_call_lists_the_dataset_once(spark, tmp_path, monkeypatch):
    """Every public call lists the dataset's data files once and reads each
    data file's footer at most once (listing _rewrite's temp dir is not a
    listing of the dataset)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from crystal_parquet_database_spark import db as db_mod

    listed, footers = Counter(), Counter()
    list_files, read_metadata = db_mod.data_files, pq.read_metadata

    def counting_list(path):
        listed[path] += 1
        return list_files(path)

    def counting_read(where, *args, **kwargs):
        footers[where] += 1
        return read_metadata(where, *args, **kwargs)

    monkeypatch.setattr(db_mod, "data_files", counting_list)
    monkeypatch.setattr(pq, "read_metadata", counting_read)

    def once(db, name, fn):
        listed.clear()
        footers.clear()
        fn()
        assert listed[db.path] == 1, (name, db.partition_by, listed[db.path])
        assert max(footers.values(), default=0) <= 1, (name, footers)

    def rows(lo, hi):
        return [{"k": i, "lang": ["en", "de"][i % 2], "v": i} for i in range(lo, hi)]

    for db in (
        PqDB(spark, str(tmp_path / "flat")),
        PqDB(spark, str(tmp_path / "hive"), partition_by=["lang"]),
    ):
        db.create(rows(0, 6))
        once(db, "create", lambda: db.create(rows(6, 9)))
        once(db, "update", lambda: db.update([{"k": 1, "v": 10}], on="k"))
        once(db, "delete", lambda: db.delete(where="k = 2"))
        once(db, "normalize", lambda: db.normalize(max_rows_per_file=4))
        once(db, "read", db.read)
        once(db, "n_rows", lambda: db.n_rows)
        once(db, "recover", db.recover)

    dim = PqDB(spark, str(tmp_path / "scd2"))
    dim.create_versioned([{"sku": "a", "p": 1}], "2024-01-01 00:00:00")
    once(
        dim,
        "upsert_scd2",
        lambda: dim.upsert_scd2([{"sku": "a", "p": 2}], on="sku", effective_ts="2024-02-01 00:00:00"),
    )


@pytest.mark.parametrize("partition_by", [[], ["lang"]])
def test_empty_first_create_makes_the_dataset(spark, tmp_path, partition_by):
    """An empty first batch still creates the dataset: one unpartitioned
    schema-only file, then appends continue from id 0."""
    db = PqDB(spark, str(tmp_path / "empty"), partition_by=partition_by)
    assert db.create(spark.createDataFrame([], "k int, lang string")) == 0
    assert db.exists and db.n_rows == 0
    assert db._root_files(db._data_files()) == db._data_files()
    assert set(db.get_schema().fieldNames()) == {"k", "lang", "id"}
    db.create([{"k": 1, "lang": "en"}])
    assert [(r["id"], r["k"]) for r in db.read().collect()] == [(0, 1)]


def test_scd2_merge_job_budget(spark, tmp_path, jobs_run):
    """One SCD2 merge runs at most 15 jobs: the open is job-free and the
    insert count comes from the id pass, not from a count() of the fresh
    keys (17 jobs when both ran)."""
    db = PqDB(spark, str(tmp_path / "scd2_jobs"))
    db.create_versioned(
        [{"sku": "a", "p": 1}, {"sku": "b", "p": 2}, {"sku": "c", "p": 3}],
        "2024-01-01 00:00:00",
    )
    ups = [{"sku": "a", "p": 10}, {"sku": "b", "p": 2}, {"sku": "d", "p": 4}]
    stats, jobs = jobs_run(
        lambda: db.upsert_scd2(ups, on="sku", effective_ts="2024-02-01 00:00:00")
    )
    assert stats == {"closed": 1, "inserted": 2, "unchanged": 2}
    assert jobs <= 15


def test_next_id_start_from_footers(spark, tmp_path, jobs_run):
    """_next_id_start is max(id) + 1: from footer statistics with no job,
    through the max(id) aggregate for a file written without statistics,
    and 0 on the empty-rewrite marker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    db = PqDB(spark, str(tmp_path / "stats"))
    db.create([{"x": i} for i in range(7)])
    db.create([{"x": i} for i in range(5)])
    db.delete(ids=[11])
    top = db.read().agg(F.max("id")).collect()[0][0]
    start, jobs = jobs_run(lambda: db._next_id_start(db._data_files()))
    assert (start, jobs) == (top + 1, 0) == (11, 0)

    plain = tmp_path / "nostats"
    plain.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([3, 41, 5], pa.int64()), "x": [1, 2, 3]}),
        str(plain / "part-0.parquet"),
        write_statistics=False,
    )
    nostats = PqDB(spark, str(plain))
    assert not pq.read_metadata(str(plain / "part-0.parquet")).row_group(0).column(0).is_stats_set
    assert nostats._next_id_start(nostats._data_files()) == 42
    nostats.create([{"x": 4}])
    assert nostats.read(filters="x = 4").collect()[0]["id"] == 42

    db.delete(where="true")  # leaves the zero-row marker file
    files = db._data_files()
    assert files and db._next_id_start(files) == 0


def test_n_rows_matches_count(spark, tmp_path):
    """n_rows (footers) equals read().count() through every write path,
    the empty-rewrite marker and a hive-partitioned dataset."""

    def same(d):
        assert d.n_rows == d.read().count()

    db = PqDB(spark, str(tmp_path / "flat"))
    db.create([{"x": i} for i in range(9)])
    same(db)
    db.create([{"x": i, "y": "new"} for i in range(4)])
    same(db)
    db.delete(where="x < 3")
    same(db)
    db.normalize(max_rows_per_file=3)
    same(db)
    db.delete(where="true")
    same(db)
    assert db.n_rows == 0

    part = PqDB(spark, str(tmp_path / "hive"), partition_by=["lang"])
    part.create([{"k": i, "lang": ["en", "de", "fr"][i % 3]} for i in range(10)])
    same(part)
    part.delete(where="lang = 'de'")
    same(part)
    assert part.n_rows == 7


def test_normalize_cluster_by_narrows_file_stats(spark, db):
    """cluster_by rewrite → per-file min/max ranges on the cluster column are
    narrow and non-overlapping, so footer stats can skip files for point or
    range predicates (the data-skipping layout)."""
    import pyarrow.parquet as pq
    import random

    rng = random.Random(7)
    vals = list(range(1000))
    rng.shuffle(vals)  # ingest order uncorrelated with x
    db.create([{"x": v} for v in vals])
    db.normalize(max_rows_per_file=100, cluster_by=["x"])

    ranges = []
    for f in db._data_files():
        md = pq.ParquetFile(f).metadata
        sch = md.schema.to_arrow_schema()
        xi = sch.get_field_index("x")
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(xi).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 5
    # each file covers a narrow slice (< 1/4 of the domain)…
    assert all(hi - lo < 250 for lo, hi in ranges)
    # …and the slices don't overlap (range partitioning), so a point lookup
    # touches exactly one file
    ranges.sort()
    assert all(ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1))
    # rewrite preserved the data
    got = sorted(r["x"] for r in db.read(columns=["x"]).collect())
    assert got == sorted(vals)


def test_normalize_rejects_bad_input(spark, db):
    """A layout typo, a z-order without cluster columns and a zero file
    size raise before anything is rewritten."""
    db.create([{"x": i, "y": i} for i in range(5)])
    files = db._data_files()
    for kwargs, msg in (
        ({"cluster_by": ["x", "y"], "layout": "zorde"}, "unknown layout"),
        ({"layout": "zorder"}, "needs cluster_by"),
        ({"max_rows_per_file": 0}, "at least 1"),
    ):
        with pytest.raises(ValueError, match=msg):
            db.normalize(**kwargs)
    assert db._data_files() == files


def test_normalize_zorder_narrows_both_dims(spark, db):
    """ZORDER layout: with two uncorrelated columns, every file's min/max
    range is narrow in BOTH dimensions, where a linear cluster_by sort keeps
    only the first column narrow. Asserted via parquet footer stats — the
    exact mechanism any engine's file pruning uses."""
    import random

    import pyarrow.parquet as pq

    rng = random.Random(11)
    n = 4096
    side = 64  # x,y on a 64×64 grid, independent
    rows = [{"x": rng.randrange(side), "y": rng.randrange(side)} for _ in range(n)]
    db.create(rows)

    def file_ranges(col):
        out = []
        for f in db._data_files():
            md = pq.ParquetFile(f).metadata
            sch = md.schema.to_arrow_schema()
            ci = sch.get_field_index(col)
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                mins.append(st.min)
                maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return out

    db.normalize(max_rows_per_file=256, cluster_by=["x", "y"], layout="linear")
    lin_y = file_ranges("y")
    # linear sort on (x, y): y is full-range in nearly every file
    assert sum(1 for lo, hi in lin_y if hi - lo > side // 2) >= len(lin_y) // 2

    db.normalize(max_rows_per_file=256, cluster_by=["x", "y"], layout="zorder")
    zx, zy = file_ranges("x"), file_ranges("y")
    assert len(zx) >= 8
    # z-order: BOTH dims narrow per file (each file ≤ half the domain, and on
    # average much less)
    for ranges in (zx, zy):
        spans = [hi - lo for lo, hi in ranges]
        assert sum(spans) / len(spans) <= side // 2
        assert max(spans) <= side  # sanity
    # the rewrite preserved the data
    assert db.read().count() == n


def test_scd2_upsert_versions_and_time_travel(spark, tmp_path):
    """Type-2 merge: changed keys close their old version and append a new
    current one; unchanged keys untouched; new keys insert; read_asof
    reconstructs both points in time; replaying the same merge is a no-op."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "dim"))
    db.create_versioned(
        [
            {"sku": "A", "price": 10.0, "vendor": "x"},
            {"sku": "B", "price": 20.0, "vendor": "y"},
            {"sku": "C", "price": 30.0, "vendor": "z"},
        ],
        effective_ts="2024-01-01 00:00:00",
    )
    stats = db.upsert_scd2(
        [
            {"sku": "A", "price": 11.0, "vendor": "x"},   # changed
            {"sku": "B", "price": 20.0, "vendor": "y"},   # unchanged
            {"sku": "D", "price": 40.0, "vendor": "w"},   # new
        ],
        on="sku",
        effective_ts="2024-02-01 00:00:00",
    )
    assert stats == {"closed": 1, "inserted": 2, "unchanged": 2}

    cur = {r["sku"]: r for r in db.read(load_format="dataset")
           .filter("valid_to IS NULL").collect()}
    assert set(cur) == {"A", "B", "C", "D"}
    assert cur["A"]["price"] == 11.0
    hist_a = db.read(load_format="dataset").filter("sku = 'A'").collect()
    assert len(hist_a) == 2
    closed = [r for r in hist_a if r["valid_to"] is not None]
    assert len(closed) == 1 and closed[0]["price"] == 10.0

    old = {r["sku"]: r["price"] for r in db.read_asof("2024-01-15 00:00:00").collect()}
    assert old == {"A": 10.0, "B": 20.0, "C": 30.0}
    new = {r["sku"]: r["price"] for r in db.read_asof("2024-02-15 00:00:00").collect()}
    assert new == {"A": 11.0, "B": 20.0, "C": 30.0, "D": 40.0}

    # ids stay unique across versions
    ids = [r["id"] for r in db.read(columns=["id"]).collect()]
    assert len(ids) == len(set(ids)) == 5

    # replaying the identical merge changes nothing (idempotent)
    stats2 = db.upsert_scd2(
        [
            {"sku": "A", "price": 11.0, "vendor": "x"},
            {"sku": "B", "price": 20.0, "vendor": "y"},
            {"sku": "D", "price": 40.0, "vendor": "w"},
        ],
        on="sku",
        effective_ts="2024-02-01 00:00:00",
    )
    assert stats2 == {"closed": 0, "inserted": 0, "unchanged": 4}
    assert db.read(columns=["id"]).count() == 5


def test_scd2_upsert_with_null_tracked_value(spark, tmp_path):
    """Regression: an update row whose FIRST tracked column is legitimately
    NULL must still match (close old + insert new), not fork a duplicate
    current version."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "dim"))
    db.create_versioned(
        [{"sku": "A", "price": 10.0, "vendor": "x"}], effective_ts="2024-01-01 00:00:00"
    )
    up = spark.createDataFrame(
        [("A", None, "q")], "sku string, price double, vendor string"
    )
    stats = db.upsert_scd2(up, on="sku", effective_ts="2024-02-01 00:00:00")
    assert stats == {"closed": 1, "inserted": 1, "unchanged": 0}
    cur = db.read(load_format="dataset").filter("valid_to IS NULL").collect()
    assert len(cur) == 1  # exactly ONE current version of A
    assert cur[0]["price"] is None and cur[0]["vendor"] == "q"
    # regression: max id 0 is falsy — `(max or -1) + 1` would restart ids at
    # 0 and the inserted version would collide with the closed row
    ids = sorted(r["id"] for r in db.read(columns=["id"]).collect())
    assert ids == [0, 1]


def test_append_after_single_row_keeps_ids_unique(spark, tmp_path):
    """Regression: appending to a table whose highest id is 0 must continue
    at 1, not reassign 0 (falsy-max bug)."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "one"))
    db.create([{"v": "first"}])
    db.create([{"v": "second"}])
    ids = sorted(r["id"] for r in db.read(columns=["id"]).collect())
    assert ids == [0, 1]


def test_scd2_upsert_releases_cache_and_checkpoint(spark, tmp_path):
    """Repeated merges in a long-running service must not accumulate session
    resources: the id-assignment persist() (a strong CacheManager reference)
    and the merge join's eager localCheckpoint blocks are both released per
    call (DataFrame.unpersist/del+gc do NOT free checkpoint RDDs — see
    runtime.py)."""
    from crystal_parquet_database_spark.db import PqDB

    sc = spark.sparkContext
    spark.catalog.clearCache()
    storage_before = len(sc._jsc.sc().getRDDStorageInfo())
    db = PqDB(spark, str(tmp_path / "dim"))
    db.create_versioned(
        [{"sku": f"S{i}", "price": float(i)} for i in range(20)],
        effective_ts="2024-01-01 00:00:00",
    )
    for step in (1, 2, 3):
        db.upsert_scd2(
            [{"sku": f"S{i}", "price": float(i + step)} for i in range(20)],
            on="sku",
            effective_ts=f"2024-0{step + 1}-01 00:00:00",
        )
    assert db.read(columns=["id"]).count() == 20 + 3 * 20  # 3 closed epochs
    assert len(sc._jsc.sc().getRDDStorageInfo()) <= storage_before


def test_fresh_dir_interleaved_invocations_stay_readable(spark, sf_dir):
    """_fresh_dir gives every invocation its own counter-suffixed subdir, so
    a harness that builds two lazy frames of the same gate query and executes
    them out of order (or re-executes the first after the second's build)
    still reads intact data — no execute-before-reinvoke assumption."""
    from crystal_parquet_database_spark.surface import QUERIES

    q = QUERIES["scd2_asof_dimension"]
    f1 = q(spark, sf_dir)
    f2 = q(spark, sf_dir)  # builds a NEW scratch dir; must not wipe f1's
    n2 = f2.count()
    n1 = f1.count()  # deferred past the second invocation
    assert n1 == n2 > 0
    assert f1.count() == n1  # and re-execution still works


def test_fresh_dir_unique_per_invocation():
    from crystal_parquet_database_spark.surface.scratch import fresh_dir as _fresh_dir

    a, b = _fresh_dir("unittest_probe"), _fresh_dir("unittest_probe")
    assert a != b
    import os

    assert os.path.isdir(a) and os.path.isdir(b)


def test_scd2_null_key_replay_is_noop(spark, tmp_path):
    """Regression: a NULL-keyed dimension row used to miss the plain-equality
    merge join every time, so replaying the identical merge appended a fresh
    duplicate current version per run. With NULL-safe matching, the replay is
    the no-op the docstring promises and the one-current-row-per-key
    invariant holds."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "dimnull"))
    db.create_versioned(
        [{"sku": None, "price": 1.0}, {"sku": "A", "price": 2.0}],
        effective_ts="2024-01-01 00:00:00",
    )
    up = spark.createDataFrame(
        [(None, 1.0), ("A", 2.0)], "sku string, price double"
    )
    for _ in range(2):  # identical replays
        stats = db.upsert_scd2(up, on="sku", effective_ts="2024-02-01 00:00:00")
        assert stats == {"closed": 0, "inserted": 0, "unchanged": 2}, stats
        cur = db.read(load_format="dataset").filter("valid_to IS NULL").collect()
        assert len(cur) == 2  # one current row per key, incl. the NULL key
    # and a REAL change to the NULL-keyed row closes + reinserts exactly once
    up2 = spark.createDataFrame([(None, 9.0)], "sku string, price double")
    stats = db.upsert_scd2(up2, on="sku", effective_ts="2024-03-01 00:00:00")
    assert stats == {"closed": 1, "inserted": 1, "unchanged": 1}
    cur = {
        r["sku"]: r["price"]
        for r in db.read(load_format="dataset").filter("valid_to IS NULL").collect()
    }
    assert cur == {None: 9.0, "A": 2.0}


def test_delete_all_rows_partitioned_dataset_survives(spark, tmp_path):
    """Regression: on a partition_by dataset, deleting every row wrote only
    _SUCCESS (dynamic-partition empty writes emit no schema file), so the
    dataset was destroyed — exists flipped False and every later call raised
    FileNotFoundError. The empty state must keep the schema and accept new
    rows."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "part"), partition_by=["grp"])
    db.create([{"grp": "a", "x": 1}, {"grp": "b", "x": 2}])
    db.delete(where="x < 100")  # matches every row
    assert db.exists
    empty = db.read(load_format="dataset")
    assert empty.count() == 0
    assert {"grp", "x", "id"} <= set(empty.columns)
    db.create([{"grp": "c", "x": 3}])
    rows = db.read(load_format="dataset").collect()
    assert [(r["grp"], r["x"]) for r in rows] == [("c", 3)]
    # the re-create must also RETIRE the unpartitioned schema-only marker
    # file the empty rewrite left at the root: appending hive dirs next to
    # it leaves a mixed-depth layout whose readability depends on Spark
    # partition-discovery internals — the recovery path
    # replaces the zero-row dataset wholesale, so only partition dirs remain
    import os as _os

    root_parquet = [
        f
        for f in _os.listdir(db.path)
        if f.endswith(".parquet") and _os.path.isfile(_os.path.join(db.path, f))
    ]
    assert root_parquet == []
    assert any("grp=c" in p for p in db.get_file_sizes())


def test_normalize_partitioned_compacts_not_explodes(spark, tmp_path):
    """Regression: normalize() on a hive-partitioned
    dataset used a round-robin repartition(n_files), spreading every
    partition VALUE across all n tasks — the partitioned writer then emitted
    one file per (task, value) pair, up to n_files × n_values tiny files:
    the opposite of compaction. Hash-clustering on the partition columns
    puts each value in one task → one file per value."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "npart"), partition_by=["grp"])
    for batch in range(4):  # several appends → several files per value
        db.create([{"grp": f"g{i % 5}", "x": batch * 100 + i} for i in range(50)])
    assert len(db.get_file_sizes()) > 5
    db.normalize(max_rows_per_file=1_000)
    assert db.n_rows == 200
    # one file per partition value (5 values), not n_files × 5
    assert len(db.get_file_sizes()) == 5
    df = db.read(load_format="dataset")
    assert df.groupBy("grp").count().count() == 5


def test_update_preserves_base_column_type(spark, tmp_path):
    """Regression: the update merge's coalesce type-coerces
    to the common type, so an update column that arrived WIDER (double vs
    stored float, long vs stored int) silently rewrote the stored column
    type for the whole dataset, bypassing create()'s evolution gate. Update
    columns are now cast to the base type before the merge."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "upd_types"))
    base = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, cnt int, score float"
    )
    db.create(base)
    # update frame arrives with the WIDER natural Python/Spark types
    up = spark.createDataFrame([(1, 99, 9.25)], "k long, cnt long, score double")
    db.update(up, on="k")
    schema = {f.name: f.dataType for f in db.get_schema().fields}
    assert schema["cnt"] == T.IntegerType()
    assert schema["score"] == T.FloatType()
    rows = {r["k"]: r for r in db.read(load_format="dataset").collect()}
    assert rows[1]["cnt"] == 99 and abs(rows[1]["score"] - 9.25) < 1e-6
    assert rows[2]["cnt"] == 20


def test_update_quotes_names_and_fails_lossy_values(spark, tmp_path):
    """The update's casts and merge are SQL text: any column name works as
    key or value, and a value the base type cannot hold fails the ANSI
    cast loudly instead of being truncated."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "upd_names"))
    key, val = "k.e`y", "it's a \\ v@l"
    db.create(spark.createDataFrame([(1, 10), (2, 20)], f"`k.e``y` long, `{val}` int"))
    db.update(spark.createDataFrame([(1, 99)], f"`k.e``y` long, `{val}` long"), on=key)
    assert {r[key]: r[val] for r in db.read(load_format="dataset").collect()} == {1: 99, 2: 20}
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        db.update(spark.createDataFrame([(2, 2**40)], f"`k.e``y` long, `{val}` long"), on=key)
    assert {r[key]: r[val] for r in db.read(load_format="dataset").collect()} == {1: 99, 2: 20}


def test_scd2_upsert_quotes_names(spark, tmp_path):
    """upsert_scd2's casts, key match and projections are SQL text too: a
    key with a dot and a backtick and a dotted tracked column merge like any
    other, and a lossy value still fails the ANSI cast."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "scd2_names"))
    key, val = "k.e`y", "a.b"
    ddl = "`k.e``y` long, `a.b` int"
    db.create_versioned(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ddl),
        effective_ts="2024-01-01 00:00:00",
    )
    stats = db.upsert_scd2(
        spark.createDataFrame([(1, 11), (2, 20), (4, 40)], "`k.e``y` long, `a.b` long"),
        on=key,
        effective_ts="2024-02-01 00:00:00",
    )
    assert stats == {"closed": 1, "inserted": 2, "unchanged": 2}

    def asof(ts):
        return {r[key]: r[val] for r in db.read_asof(ts).collect()}

    assert asof("2024-01-15 00:00:00") == {1: 10, 2: 20, 3: 30}
    assert asof("2024-02-15 00:00:00") == {1: 11, 2: 20, 3: 30, 4: 40}
    assert dict(db.read(load_format="dataset").dtypes)[val] == "int"
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        db.upsert_scd2(
            spark.createDataFrame([(2, 2**40)], "`k.e``y` long, `a.b` long"),
            on=key,
            effective_ts="2024-03-01 00:00:00",
        )
    assert asof("2024-03-15 00:00:00") == {1: 11, 2: 20, 3: 30, 4: 40}


def test_release_all_session_blocks(spark):
    """Harness hygiene: the between-queries release must free BOTH
    localCheckpoint blocks and plain persists, and be safe to call twice."""
    from crystal_parquet_database_spark.runtime import release_all_session_blocks

    ck = spark.range(100).localCheckpoint(eager=True)
    pe = spark.range(50).persist()
    pe.count()
    assert ck.count() == 100
    n = release_all_session_blocks(spark)
    assert n >= 2
    size = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert size == 0
    # a released persist() recomputes through lineage — still correct
    assert pe.count() == 50
    assert release_all_session_blocks(spark) >= 0  # idempotent / never raises


def test_scd2_replay_preserves_base_column_types(spark, tmp_path):
    """Regression: upsert_scd2 lacked update()'s base-type
    cast, so a wider-typed update frame (Python ints -> long vs stored int)
    silently rewrote the stored column type through the insert-side
    unionByName coercion -- even on a NO-OP replay."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "scd2_types"))
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt int")
    db.create_versioned(base, effective_ts="2024-01-01 00:00:00")
    # identical values, wider dtype -- the no-op replay must stay a no-op
    up = spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt long")
    db.upsert_scd2(up, on="k", effective_ts="2024-02-01 00:00:00")
    schema = {f.name: f.dataType for f in db.get_schema().fields}
    assert schema["cnt"] == T.IntegerType()
    cur = db.read_asof("2024-02-15 00:00:00").collect()
    assert sorted((r["k"], r["cnt"]) for r in cur) == [(1, 10), (2, 20)]


def test_fresh_dir_wipes_stale_prior_process_root(monkeypatch, tmp_path):
    """A prior process's leftovers under the same name-root are wiped at this
    process's FIRST use of that name (the stale-root wipe the scratch
    docstring promises) — while a SECOND use in the same process must NOT
    wipe (earlier invocations' dirs stay readable)."""
    import os

    from crystal_parquet_database_spark.surface import scratch

    name = "unittest_stale_wipe_probe"
    root = os.path.join(
        __import__("tempfile").gettempdir(), f"pqdb_gate_{os.getpid()}", name
    )
    os.makedirs(root, exist_ok=True)
    stale = os.path.join(root, "stale_prior_process_file")
    open(stale, "w").write("leftover")
    scratch._wiped_roots.discard(root)  # simulate: this process never saw it
    first = scratch.fresh_dir(name)
    assert not os.path.exists(stale)  # stale leftover wiped at first use
    marker = os.path.join(first, "live")
    open(marker, "w").write("x")
    scratch.fresh_dir(name)  # second invocation must not wipe the first's
    assert os.path.exists(marker)


def test_release_helpers_warn_instead_of_swallowing():
    """The best-effort release helpers keep their return values on failure
    but report the exception type and message as a warning."""
    from crystal_parquet_database_spark.runtime import (
        release_all_session_blocks,
        release_local_checkpoint,
    )

    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

        @property
        def sparkContext(self):
            raise RuntimeError("no context")

        @property
        def catalog(self):
            raise RuntimeError("no catalog")

    with pytest.warns(RuntimeWarning, match="release_local_checkpoint.*RuntimeError: no plan"):
        assert release_local_checkpoint(Broken()) is False
    with pytest.warns(RuntimeWarning) as caught:
        assert release_all_session_blocks(Broken()) == 0
    msgs = [str(w.message) for w in caught]
    assert any("RuntimeError: no context" in m for m in msgs)
    assert any("RuntimeError: no catalog" in m for m in msgs)


def test_scratch_reap_clears_tree_and_restarts_clean():
    import os

    from crystal_parquet_database_spark.surface import scratch

    d = scratch.fresh_dir("unittest_reap_probe")
    assert os.path.isdir(d)
    scratch.reap()
    assert not os.path.exists(d)
    d2 = scratch.fresh_dir("unittest_reap_probe")
    assert os.path.isdir(d2)  # usable again after reap


def test_create_partition_by_over_rooted_dataset_refuses(spark, tmp_path):
    """Regression: opening a root-file dataset with partition_by and
    calling create() used to hit the empty-marker branch and replace the
    WHOLE dataset with just the new batch — silent total data loss."""
    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "rooted")
    flat = PqDB(spark, path)
    flat.create([{"k": i, "lang": "en", "v": i * 10} for i in range(20)])
    repart = PqDB(spark, path, partition_by=["lang"])
    with pytest.raises(ValueError, match="unpartitioned data files"):
        repart.create([{"k": 99, "lang": "de", "v": 0}])
    assert PqDB(spark, path).n_rows == 20  # nothing destroyed

    # the zero-row marker case stays allowed: delete-all then partitioned
    # create still works (that IS the marker branch's purpose)
    flat2 = PqDB(spark, str(tmp_path / "marker"), partition_by=["lang"])
    flat2.create([{"k": 1, "lang": "en"}])
    flat2.delete(where="k = 1")
    flat2.create([{"k": 2, "lang": "de"}])
    assert flat2.n_rows == 1


def test_create_unpartitioned_over_hive_dataset_refuses(spark, tmp_path):
    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "hive")
    PqDB(spark, path, partition_by=["lang"]).create(
        [{"k": 1, "lang": "en"}, {"k": 2, "lang": "de"}]
    )
    with pytest.raises(ValueError, match="hive-partitioned"):
        PqDB(spark, path).create([{"k": 3, "lang": "fr"}])
    with pytest.raises(ValueError, match="hive-partitioned"):
        PqDB(spark, path).delete(where="k = 1")  # rewrite would flatten layout
    assert PqDB(spark, path, partition_by=["lang"]).n_rows == 2


def test_update_cast_colliding_keys_rejected(spark, tmp_path):
    """Regression: string keys '1' and '01' are distinct to a raw-key
    guard but the join coerces both to numeric 1 — both matched the same
    base row and the merge duplicated it. The guard now runs on the CAST
    key."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "castdup"))
    db.create([{"k": i, "v": i} for i in range(5)])  # k: long
    ups = spark.createDataFrame([("1", 100), ("01", 200)], "k string, v int")
    with pytest.raises(ValueError, match="duplicate key"):
        db.update(ups, on="k")
    assert db.n_rows == 5

    sdb = PqDB(spark, str(tmp_path / "castdup_scd2"))
    sdb.create_versioned([{"k": i, "v": i} for i in range(5)], "2024-01-01")
    with pytest.raises(ValueError, match="duplicate key"):
        sdb.upsert_scd2(ups, on="k", effective_ts="2024-02-01")
    # one-current-row invariant intact
    cur = sdb.read_asof("2024-06-01")
    assert cur.count() == 5


def test_update_unknown_key_clear_error(spark, tmp_path):
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "nokey"))
    db.create([{"k": 1, "v": 1}])
    with pytest.raises(ValueError, match="does not exist in the dataset"):
        db.update([{"zz": 1, "v": 2}], on="zz")
    sdb = PqDB(spark, str(tmp_path / "nokey2"))
    sdb.create_versioned([{"k": 1, "v": 1}], "2024-01-01")
    with pytest.raises(ValueError, match="does not exist in the dataset"):
        sdb.upsert_scd2([{"zz": 1, "v": 2}], on="zz", effective_ts="2024-02-01")


def test_scd2_extra_columns_rejected_like_update(spark, tmp_path):
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "scd2extra"))
    db.create_versioned([{"k": 1, "v": 1}], "2024-01-01")
    with pytest.raises(ValueError, match="do not exist"):
        db.upsert_scd2(
            [{"k": 1, "v": 2, "surprise": 9}], on="k", effective_ts="2024-02-01"
        )


def test_normalize_cluster_by_on_partitioned_dataset_compacts(spark, tmp_path):
    """Regression: normalize(cluster_by=...) on a hive-partitioned
    dataset range-partitioned on the CLUSTER key, spreading every partition
    value over all n_files tasks — up to n_files x n_values tiny files, the
    exact pathology of the no-cluster branch's round-robin spread. Both
    cluster branches now cluster on the partition columns first."""
    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "clustpart")
    db = PqDB(spark, path, partition_by=["lang"])
    langs = ["en", "de", "fr", "es"]
    for batch in range(3):  # fragment: 3 appends x 4 langs
        db.create(
            [
                {"k": batch * 100 + i, "lang": langs[i % 4], "v": (i * 37) % 50}
                for i in range(100)
            ]
        )
    rows_before = db.n_rows
    db.normalize(max_rows_per_file=40, cluster_by=["v"])
    files = db.get_file_sizes()
    # 300 rows / 40 per file = ceil 8 target splits; one task per lang value
    # with maxRecordsPerFile splits => bounded by n_values + splits, far
    # below n_files x n_values (8 x 4 = 32)
    assert len(files) <= 4 * 3  # <= per-lang splits, not the cross product
    assert db.n_rows == rows_before
    # per-file narrow ranges on the clustered column within each partition:
    # files are written in (lang, v) sort order, so each file's v-span is
    # at most ceil(rows_per_lang / splits)-ish of the domain — assert
    # non-overlap between the files of one partition value
    import pyarrow.parquet as pq

    by_lang: dict[str, list[tuple]] = {}
    for f in files:
        lang = [seg.split("=")[1] for seg in f.split("/") if seg.startswith("lang=")][0]
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["v"]).statistics
            mins.append(st.min)
            maxs.append(st.max)
        by_lang.setdefault(lang, []).append((min(mins), max(maxs)))
    for lang, spans in by_lang.items():
        spans.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"overlapping v-ranges within lang={lang}: {spans}"


def test_interrupted_swap_recovers_new_state(spark, tmp_path):
    """Simulate a kill between _rewrite's two renames: path missing, old
    state in __old_*, COMPLETE new state in __tmp_*. The next WRITE touch
    (or an explicit recover()) must finish the swap; a mere `exists` probe
    must NOT: lazy recovery from `exists` let a reader
    complete the swap and delete the sibling a live writer was about to
    rename."""
    import os
    import shutil as sh

    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "swapcrash")
    db = PqDB(spark, path)
    db.create([{"k": i, "v": i} for i in range(10)])
    db.update([{"k": 0, "v": 99}], on="k")  # a completed rewrite
    # manufacture the between-renames window: new state -> tmp, then "crash"
    sh.copytree(path, f"{path}__tmp_deadbeef")
    os.rename(path, f"{path}__old_deadbeef")
    db2 = PqDB(spark, path)
    # `exists` is read-only: it reports absence and leaves BOTH siblings
    assert not db2.exists
    assert os.path.exists(f"{path}__tmp_deadbeef")
    assert os.path.exists(f"{path}__old_deadbeef")
    # explicit recovery finishes the swap
    assert db2.recover()
    assert db2.exists
    assert not os.path.exists(f"{path}__old_deadbeef")
    got = {r["k"]: r["v"] for r in db2.read(columns=["k", "v"]).collect()}
    assert got[0] == 99 and len(got) == 10


def test_write_entry_points_recover_crashed_swap(spark, tmp_path):
    """create() on a dataset parked in swap siblings must restore the
    committed state FIRST and append onto it — not treat the dataset as
    fresh (which would strand the recovered rows or fork ids)."""
    import os
    import shutil as sh

    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "swapwrite")
    db = PqDB(spark, path)
    db.create([{"k": i, "v": i} for i in range(10)])
    db.update([{"k": 0, "v": 99}], on="k")
    sh.copytree(path, f"{path}__tmp_cafef00d")
    os.rename(path, f"{path}__old_cafef00d")
    db2 = PqDB(spark, path)
    db2.create([{"k": 100, "v": 100}])  # write path recovers implicitly
    assert not os.path.exists(f"{path}__old_cafef00d")
    got = {r["k"]: r["v"] for r in db2.read(columns=["k", "v"]).collect()}
    assert got[0] == 99 and got[100] == 100 and len(got) == 11


def test_destroy_clears_crash_siblings_no_resurrection(spark, tmp_path):
    """Regression: a stale __old_* surviving a bare
    rmtree was 'recovered' into the emptied path, and the next create()
    appended onto resurrected rows. destroy() clears siblings; recovery
    never restores an old without a tmp."""
    import os
    import shutil as sh

    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "resur")
    db = PqDB(spark, path)
    db.create([{"k": i} for i in range(5)])
    sh.copytree(path, f"{path}__old_stale")  # crash-after-swap leftover
    sh.rmtree(path)  # user starts fresh WITHOUT destroy
    db2 = PqDB(spark, path)
    assert not db2.exists  # old-only leftovers are NOT resurrected
    db2.create([{"k": 100}])
    assert db2.n_rows == 1  # no append-onto-resurrected-rows

    PqDB.destroy(path)
    assert not os.path.exists(path) and not os.path.exists(f"{path}__old_stale")


def test_rewrite_guards_partition_by_over_rooted_dataset(spark, tmp_path):
    """The mirror of the create() guard: update/delete through a
    partition_by-opened PqDB over an unpartitioned dataset must not
    silently restructure the layout."""
    from crystal_parquet_database_spark.db import PqDB

    path = str(tmp_path / "rootflip")
    PqDB(spark, path).create([{"k": 1, "lang": "en", "v": 1}])
    wrong = PqDB(spark, path, partition_by=["lang"])
    with pytest.raises(ValueError, match="unpartitioned data files"):
        wrong.delete(where="k = 1")
    assert PqDB(spark, path).n_rows == 1


def test_empty_string_partition_value_fails_loudly(spark, tmp_path):
    """Hive layout writes '' and NULL partition values to the SAME
    ``__HIVE_DEFAULT_PARTITION__`` directory, so an empty-string key would
    silently read back as NULL (a degenerate-corpus find). The
    engine must refuse it loudly — while every representable shape
    (whitespace, slashes, NULL itself) still round-trips faithfully."""
    path = str(tmp_path / "emptykey")
    db = PqDB(spark, path, partition_by=["lang"])
    with pytest.raises(Exception, match="empty-string|cannot round-trip"):
        db.create([{"k": 1, "lang": "", "v": 1}])
    PqDB.destroy(path)

    ok = PqDB(spark, str(tmp_path / "okkeys"), partition_by=["lang"])
    rows = [
        {"k": 1, "lang": " ", "v": 1},
        {"k": 2, "lang": "a/b", "v": 2},
        {"k": 3, "lang": None, "v": 3},
    ]
    ok.create(spark.createDataFrame(rows, "k int, lang string, v int"))
    back = {r["k"]: r["lang"] for r in ok.read().collect()}
    assert back == {1: " ", 2: "a/b", 3: None}

    # update() setting a partition value to '' routes through _rewrite's
    # guard too
    with pytest.raises(Exception, match="empty-string|cannot round-trip"):
        ok.update([{"id": 0, "lang": ""}])


def test_scratch_sweeps_dead_peer_trees(tmp_path):
    import os
    import subprocess
    import tempfile

    from crystal_parquet_database_spark.surface import scratch

    child = subprocess.Popen(["true"])
    child.wait()
    dead_tree = os.path.join(tempfile.gettempdir(), f"pqdb_gate_{child.pid}")
    os.makedirs(os.path.join(dead_tree, "leftover"), exist_ok=True)
    scratch._swept_dead_peers = False  # force the once-per-process sweep
    scratch.fresh_dir("unittest_peer_sweep")
    assert not os.path.exists(dead_tree)  # dead pid's tree reaped
    live_tree = os.path.join(tempfile.gettempdir(), f"pqdb_gate_{os.getpid()}")
    assert os.path.isdir(live_tree)  # our own tree untouched
