"""Seeded input generation for the benchmark.

Seed 0 copies the source tables byte for byte. Any other seed keeps every
value distribution and the data size, and changes three things:

- row order: each table's rows are permuted;
- file split: each table becomes a directory of two parquet files of equal
  row count, so which rows share a file follows the permutation;
- surrogate keys: custkey, orderkey, doc_id, user_id and event_id are
  relabelled by a seeded bijection of each key domain onto itself, applied
  the same way in every table that carries the key.

`user_id` joins `custkey` (the mailing blocklist), so both share one
domain; the permutation maps the user ids onto themselves and the other
customer keys onto themselves, so each column keeps its own value set.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]

# key domain -> [(table, column)]
DOMAINS = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc": [("documents", "doc_id")],
    "event": [("events", "event_id")],
}


def _table_path(src_dir, name):
    return os.path.join(src_dir, f"{name}.parquet")


def _permutation(values, rng, keep_together=None):
    """Seeded bijection of `values` onto itself, as (sorted keys, images).
    Values in `keep_together` map among themselves."""
    keys = np.unique(values)
    if keep_together is None:
        return keys, rng.permutation(keys)
    images = keys.copy()
    inside = np.isin(keys, keep_together)
    images[inside] = rng.permutation(keys[inside])
    images[~inside] = rng.permutation(keys[~inside])
    return keys, images


def _relabel(column, keys, images):
    arr = column.to_numpy(zero_copy_only=False)
    idx = np.searchsorted(keys, arr)
    return pa.array(images[idx], type=column.type)


def generate(src_dir, dst_dir, tables, seed):
    """Writes `tables` for `seed` under `dst_dir`; returns (rows, bytes)."""
    if os.path.exists(dst_dir):
        shutil.rmtree(dst_dir)
    os.makedirs(dst_dir)
    if seed == 0:
        for t in tables:
            shutil.copyfile(_table_path(src_dir, t), os.path.join(dst_dir, f"{t}.parquet"))
    else:
        loaded = {}

        def table(name):
            if name not in loaded:
                loaded[name] = pq.read_table(_table_path(src_dir, name))
            return loaded[name]

        # one generator per key domain and per table, so a table comes out
        # the same whichever workload asks for it
        maps = {}
        for i, (dom, cols) in enumerate(DOMAINS.items()):
            if not any(t in tables for t, _ in cols):
                continue
            # every table of a domain takes part in its key set, generated
            # or not
            vals = [table(t).column(c).combine_chunks().to_numpy(zero_copy_only=False)
                    for t, c in cols]
            together = None
            if dom == "cust":
                together = np.unique(table("events").column("user_id").to_numpy())
            maps[dom] = _permutation(np.concatenate(vals), np.random.default_rng([seed, i]),
                                     together)
        for t in tables:
            rng = np.random.default_rng([seed, 1000 + sorted(ALL_TABLES).index(t)])
            tb = table(t)
            for dom, cols in DOMAINS.items():
                for tt, c in cols:
                    if tt == t and dom in maps:
                        i = tb.schema.get_field_index(c)
                        tb = tb.set_column(i, tb.schema.field(i),
                                           _relabel(tb.column(c).combine_chunks(), *maps[dom]))
            tb = tb.take(pa.array(rng.permutation(tb.num_rows)))
            meta = pq.ParquetFile(_table_path(src_dir, t)).metadata
            codec = meta.row_group(0).column(0).compression.lower() if meta.num_row_groups else "snappy"
            out = os.path.join(dst_dir, f"{t}.parquet")
            os.makedirs(out)
            cut = tb.num_rows // 2
            for k, (lo, hi) in enumerate([(0, cut), (cut, tb.num_rows)]):
                pq.write_table(tb.slice(lo, hi - lo), os.path.join(out, f"part-{k:05d}.parquet"),
                               compression=codec)
    rows = 0
    size = 0
    for t in tables:
        p = os.path.join(dst_dir, f"{t}.parquet")
        files = [p] if os.path.isfile(p) else [os.path.join(p, f) for f in sorted(os.listdir(p))]
        for f in files:
            rows += pq.ParquetFile(f).metadata.num_rows
            size += os.path.getsize(f)
    return rows, size


def duck_views(con, data_dir, tables):
    """Registers one DuckDB view per generated table."""
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = p if os.path.isfile(p) else os.path.join(p, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
