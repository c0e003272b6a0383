"""Seeded grown inputs for the benchmark's grown workloads.

`grow(src, cache, factor, seed, root)` writes a `factor`x copy of the
fixture directory `src` to `<cache>/g<factor>_s<seed>` with the grow
transforms of `scripts/scale_up.py` (imported from the checkout,
unchanged): every keyed table is replicated
`factor` times with re-keyed ids, and replicas 1.. get new document text,
new embedding orientations and a longer event history. Replica 0 is the
original data, and physical schemas are preserved, so
`scripts/preflight.py`'s fixture fingerprint guard passes on the output.

The seed enters through the replica tag that the document and embedding
transforms perturb with: replica i of seed s is tagged
`TAG_BASE + (s mod SEEDS) * factor + i`. Tags stay distinct within one
data set and always have five digits, so every seed yields inputs of
the same shape and size, with different words and sign patterns. The event
shift stays `i`, because it is what lays the histories end to end.

Outputs are cached per (seed, factor); only the newest `KEEP` grown
directories are kept.
"""
import importlib.util
import os
import shutil
import time

TAG_BASE = 10000
SEEDS = 8000
KEEP = 3


def _scale_up(root):
    spec = importlib.util.spec_from_file_location(
        "scale_up", os.path.join(root, "scripts", "scale_up.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(su, src, dst, factor, seed):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    assert factor * SEEDS + TAG_BASE < 10 * TAG_BASE, "tags must keep 5 digits"
    tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet"))
              for t in su.KEYED_TABLES}
    strides = {}
    for t, cols in su.KEYED_TABLES.items():
        for col, domain in cols.items():
            m = pc.max(tables[t][col]).as_py()
            strides[domain] = max(strides.get(domain, 0), m + 1)
    for t in su.COPY_TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        os.path.join(dst, f"{t}.parquet"))
    for t, cols in su.KEYED_TABLES.items():
        base = tables[t]
        with pq.ParquetWriter(os.path.join(dst, f"{t}.parquet"),
                              base.schema) as w:
            for i in range(factor):
                if i == 0:
                    w.write_table(base, row_group_size=256 * 1024)
                    continue
                arrays = []
                for field in base.schema:
                    col = base[field.name]
                    if field.name in cols:
                        off = i * strides[cols[field.name]]
                        col = pc.cast(pc.add_checked(
                            col, pa.scalar(off, field.type)), field.type)
                    arrays.append(col)
                if t in su.GROW_TRANSFORMS:
                    tag = (i if t == "events"
                           else TAG_BASE + (seed % SEEDS) * factor + i)
                    arrays = su.GROW_TRANSFORMS[t](arrays, tag, base.schema)
                w.write_table(pa.Table.from_arrays(arrays, schema=base.schema),
                              row_group_size=256 * 1024)


def grow(src, cache, factor, seed, root):
    """Return (directory, seconds spent generating; 0 on a cache hit)."""
    dst = os.path.join(cache, f"g{factor}_s{seed}")
    if os.path.isdir(dst):
        os.utime(dst)
        return dst, 0.0
    t0 = time.monotonic()
    partial = dst + ".partial"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    _write(_scale_up(root), src, partial, factor, seed)
    os.rename(partial, dst)
    spent = time.monotonic() - t0
    grown = sorted((os.path.join(cache, d) for d in os.listdir(cache)
                    if d.startswith("g") and not d.endswith(".partial")),
                   key=os.path.getmtime)
    for old in grown[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return dst, spent
