"""TPC-H-like parquet corpus for the registry workloads.

Reuses the repository's scale-factor generator (tools/gen_sf.py, fixed
seed 42) so the benchmark's tables have the same schema and
distributions as the corpora the registry is oracle-checked on. That
generator copies the two constant tables (region, nation) from a
reference directory; here they are written from the constants below
instead, so the corpus is built from the checkout alone.
"""
import contextlib
import importlib.util
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _constant_tables(out):
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }), os.path.join(out, "nation.parquet"))


def generate(root, sf, out):
    """Write the ten tables of scale factor `sf` into `out`."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(root, "tools", "gen_sf.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    os.makedirs(out, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as ref:
        _constant_tables(ref)
        gen.REF = ref
        argv = sys.argv
        sys.argv = ["gen_sf.py", str(sf), out]
        try:
            with contextlib.redirect_stdout(sys.stderr):
                gen.main()
        finally:
            sys.argv = argv


def size_of(out):
    """(bytes, rows) per table of a generated corpus."""
    sizes = {}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            p = os.path.join(out, f)
            sizes[f[:-len(".parquet")]] = {
                "bytes": os.path.getsize(p),
                "rows": pq.ParquetFile(p).metadata.num_rows}
    return sizes
