"""Seeded benchmark input derived from the local sf0.1 test tables.

The input is sf0.1 with every table's rows in a seeded order: the
values, and so the selectivities, are those of sf0.1, while the layout
the engine reads (row order within the file) changes with the seed.

The same seed gives byte-identical files; the manifest records each
table's rows and bytes and a digest over all files.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = "/root/testdata/sf0.1"  # the project's test tables, see TESTDATA.md
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def generate(out_dir, seed):
    """Writes the input for `seed` into out_dir and returns its
    manifest; reuses a complete earlier write."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    if not os.path.isdir(SOURCE):
        raise SystemExit(f"input source {SOURCE} is missing")
    shutil.rmtree(out_dir, ignore_errors=True)  # an interrupted earlier write
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    digest = hashlib.sha256()
    info = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(SOURCE, f"{name}.parquet")).replace_schema_metadata(None)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        with open(path, "rb") as f:
            data = f.read()
        digest.update(name.encode() + data)
        info[name] = {"rows": t.num_rows, "bytes": len(data)}
    manifest = {"seed": seed, "digest": digest.hexdigest(), "tables": info}
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest
