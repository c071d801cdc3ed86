"""Library-surface drive: the workflow a reference (crystpqdb) user would run
after switching — build a crystal DB from source files, query it back."""

import bz2, json, os, sys, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]").appName("user-sim")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from crystal_parquet_database_spark import load_table
from crystal_parquet_database_spark.db import PqDB
from crystal_parquet_database_spark.sources import get_loader, LoaderConfig

work = tempfile.mkdtemp(prefix="usersim_")

# 1) place source files like the reference's download stage would
raw = os.path.join(work, "alex", "3d", "raw"); os.makedirs(raw)
entries = [{"data": {"mat_id": f"agm-{i}", "band_gap_ind": 1.0+i, "band_gap_dir": 1.2,
                     "dos_ef": 0.3, "energy_total": -10.0-i, "energy_corrected": -9.9,
                     "e_form": -1.0, "e_above_hull": 0.0, "e_phase_separation": 0.1,
                     "total_mag": 2.0},
            "structure": {"@module": "pymatgen.core.structure", "@class": "Structure",
                          "lattice": {"matrix": [[4.0,0.0,0.0],[0.0,4.0,0.0],[0.0,0.0,4.0]],
                                      "a":4.0,"b":4.0,"c":4.0,"alpha":90.0,"beta":90.0,
                                      "gamma":90.0,"volume":64.0,"pbc":[True,True,True]},
                          "sites": [{"species":[{"element":"Si","occu":1}],
                                     "abc":[0.0,0.0,0.0],"xyz":[0.0,0.0,0.0],
                                     "properties":{"magmom":0.1,"charge":0.0,"forces":[0.0]*3},
                                     "label":"Si"}],
                          "charge": 0.0}} for i in range(6)]
with bz2.open(os.path.join(raw, "alexandria_000.json.bz2"), "wt") as f:
    json.dump({"entries": entries}, f)

# 2) run the loader pipeline → canonical frame
canonical = get_loader(spark, "alex", "3d", LoaderConfig(data_dir=work)).run()

# 3) combined DB: create + read (the reference README flow: pqdb.create(table); pqdb.read(columns=['id']))
db = PqDB(spark, os.path.join(work, "combined_db"))
db.create(canonical)
ids = sorted(r["id"] for r in db.read(columns=["id"]).collect())
print("ids:", ids)
assert ids == list(range(6))

# 4) filtered projection with pushdown over nested-schema data
res = db.read(columns=["source_id", "data"], filters="data.band_gap_ind > 3.0").collect()
print("filtered:", sorted(r["source_id"] for r in res))
assert sorted(r["source_id"] for r in res) == ["agm-3", "agm-4", "agm-5"]

# 5) evolution: append a second source with extra columns
db.create([{"source_database": "materialscloud", "source_id": "mc3d-0", "extra_flag": True}])
assert db.n_rows == 7
row = db.read(filters="source_id = 'mc3d-0'").collect()[0]
print("evolved row ok:", row["extra_flag"], row["data"])

# 6) normalize + stats
db.normalize(max_rows_per_file=4)
print("files:", len(db.get_file_sizes()), "rows:", db.n_rows)
assert db.n_rows == 7

# probe: create with conflicting manual id column (engine owns id)
db.create([{"id": 12345, "source_id": "probe"}])
got = db.read(filters="source_id = 'probe'").collect()[0]["id"]
print("engine-owned id (not 12345):", got)
assert got == 7
print("USER-SIM OK")
