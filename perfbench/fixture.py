"""Seeded benchmark fixture: `scripts/make_sf1.py`'s organic construction,
driven by the workload seed.

- documents and embeddings are synthesized by make_sf1's own organic
  functions (imported, unchanged). Their per-copy generators draw from
  `numpy.random.default_rng(copy)`; here that seed is mixed with the
  workload seed, so one seed always gives the same corpus and another
  seed gives a different one.
- lineitem, orders, part, supplier and events are offset copies with
  make_sf1's key offsets, so the join graph gains identical components and
  the events stream stays time-ordered. Each copy's rows are shuffled by a
  permutation drawn from the seed.
- region, nation and customer are copied once, as make_sf1 leaves them.

Every other table is a directory with one parquet file per copy.

The program only ever sees the parquet files this writes.
"""
import contextlib
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# make_sf1's per-copy key offsets
OFFSETS = {"l_orderkey": 100_000_000, "l_partkey": 10_000_000,
           "l_suppkey": 1_000_000, "o_orderkey": 100_000_000,
           "p_partkey": 10_000_000, "s_suppkey": 1_000_000,
           "event_id": 100_000_000, "user_id": 10_000_000}


def load_make_sf1(scripts_dir: Path):
    """Import scripts/make_sf1.py; it reads sys.argv at import time."""
    argv = sys.argv
    sys.argv = ["make_sf1.py"]
    sys.path.insert(0, str(scripts_dir))
    try:
        import make_sf1
    finally:
        sys.argv = argv
        sys.path.remove(str(scripts_dir))
    return make_sf1


@contextlib.contextmanager
def seeded_rng(seed: int):
    """Mix `seed` into every numpy.random.default_rng(s) call."""
    orig = np.random.default_rng
    np.random.default_rng = lambda s=None: orig([seed, s or 0])
    try:
        yield
    finally:
        np.random.default_rng = orig


def offset_copies(t: pa.Table, copies: int, seed: int, salt: int,
                  span_us: int = 0):
    """Copy k: key columns offset by k * OFFSETS, `ts` shifted by k * span,
    rows permuted by the seed."""
    for k in range(copies):
        rng = np.random.default_rng([seed, salt, k])
        cols = {}
        for f in t.schema:
            c = t.column(f.name)
            if f.name in OFFSETS:
                c = pc.add(c, k * OFFSETS[f.name])
            elif f.name == "ts" and span_us:
                c = pc.add(c, pa.scalar(k * span_us, type=pa.duration("us")))
            cols[f.name] = c
        yield pa.table(cols).take(pa.array(rng.permutation(t.num_rows)))


def generate(src: str, dst: Path, copies: int, seed: int,
             scripts_dir: Path) -> dict:
    """Write the fixture into `dst` (replacing it) and return per-table
    rows and bytes."""
    mk = load_make_sf1(scripts_dir)
    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)

    def write(name, parts):
        # one file per copy, so a scan splits into one task per copy as a
        # larger fixture's scan would; make_sf1 writes a single file
        table_dir = tmp / f"{name}.parquet"
        table_dir.mkdir()
        for k, part in enumerate(parts):
            pq.write_table(part, table_dir / f"part-{k:05d}.parquet")

    for i, name in enumerate(TABLES):
        path = f"{src}/{name}.parquet"
        if name in ("region", "nation", "customer"):
            shutil.copyfile(path, tmp / f"{name}.parquet")
            continue
        t = pq.read_table(path)
        if name == "documents":
            model = mk.build_doc_model(t)
            with seeded_rng(seed):
                write(name, (mk.organic_doc_copy(model, k)
                             for k in range(copies)))
        elif name == "embeddings":
            model = mk.build_emb_model(t)
            etype = t.schema.field("embedding").type
            with seeded_rng(seed):
                write(name, (mk.organic_emb_copy(model, etype, k)
                             for k in range(copies)))
        elif name == "events":
            ts = t.column("ts")
            span_us = int((pc.max(ts).as_py() - pc.min(ts).as_py())
                          .total_seconds() * 1e6) + 3_600_000_000
            write(name, offset_copies(t, copies, seed, i, span_us))
        else:
            write(name, offset_copies(t, copies, seed, i))
    stats = {}
    for name in TABLES:
        path = tmp / f"{name}.parquet"
        files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        stats[name] = {"rows": sum(pq.read_metadata(f).num_rows
                                   for f in files),
                       "bytes": sum(os.path.getsize(f) for f in files)}
    (tmp / "fixture.json").write_text(json.dumps(
        {"source": src, "copies": copies, "seed": seed, "tables": stats}))
    shutil.rmtree(dst, ignore_errors=True)
    tmp.rename(dst)
    return stats


def ensure(src: str, dst: Path, copies: int, seed: int,
           scripts_dir: Path) -> dict:
    """The fixture at `dst`, generated unless a complete one is there."""
    meta = dst / "fixture.json"
    if meta.exists():
        m = json.loads(meta.read_text())
        if (m["source"], m["copies"], m["seed"]) == (src, copies, seed):
            return m["tables"]
    return generate(src, dst, copies, seed, scripts_dir)
