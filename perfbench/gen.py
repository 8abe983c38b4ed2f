"""Seeded input generation for the benchmark workloads.

Every input is derived from the read-only test warehouse and written as
fresh parquet under the run's temp directory before Spark starts, so the
program under test only ever sees the generated files. The seed fixes row
order, file split, series relabelling, batch boundaries, batch overlap and
the revision sample; nothing else about the inputs varies between runs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The warehouse_rw feed. README.md gives where each value comes from.
GROUPS = 8  # user_id groups per event type: 5 x 8 = 40 series
BOOTSTRAP_SHARE = (0.35, 0.45)  # share of the feed ingested at bootstrap
BATCH_ROWS = (1200, 2400)  # rows per append batch, before overlap
OVERLAP_SHARE = (0.1, 0.3)  # share of the previous batch offered again
REVISED_SERIES = 3  # series one revision batch touches
REVISION_ROWS = 500  # rows per revision batch


def testdata() -> str:
    """The package's read-only test warehouse: one directory per scale factor."""
    from datums_warehouse_spark.session import DEFAULT_SF_DIR

    return os.path.dirname(DEFAULT_SF_DIR)


def _permuted(rng: np.random.Generator, src: str, name: str) -> pa.Table:
    table = pq.read_table(os.path.join(src, f"{name}.parquet"))
    return table.take(rng.permutation(table.num_rows))


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tables(
    rng: np.random.Generator, sf: str, names: tuple[str, ...], files: int, out: str
) -> dict:
    """Write each table with seeded row order, as ``files`` parquet files.

    One file per table is the grading-fixture shape (a single row group, so
    ``sources.tables.starved()`` holds); ``files == nproc`` is the
    production shape, where every core gets a scan split. Returns the rows
    and bytes written per table.
    """
    src = os.path.join(testdata(), sf)
    sizes = {}
    os.makedirs(out, exist_ok=True)
    for name in names:
        table = _permuted(rng, src, name)
        dest = os.path.join(out, f"{name}.parquet")
        if files == 1:
            pq.write_table(table, dest)
        else:
            os.makedirs(dest)
            bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
            for i in range(files):
                part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
                pq.write_table(part, os.path.join(dest, f"part-{i:03d}.parquet"))
        sizes[name] = {"rows": table.num_rows, "bytes": _dir_bytes(dest)}
    return sizes


def warehouse_feed(rng: np.random.Generator, out: str) -> dict:
    """Turn ``events`` into a time-ordered multi-series feed.

    ``series`` is ``event_type`` crossed with a seeded relabelling of
    ``user_id % GROUPS`` (one row per ``(series, ts)``). The oldest
    ``BOOTSTRAP_SHARE`` of the feed is the bootstrap ingest; the
    rest is cut into append batches at seeded boundaries, each batch
    re-offering a seeded share of the previous batch's rows (rows the store
    already holds). Each revision batch re-values ``REVISION_ROWS``
    bootstrap rows of ``REVISED_SERIES`` seeded series, one row per
    ``(series, ts)``: what merge should do with a key repeated inside one
    batch is undefined, so the feed never offers one.
    """
    ev = pq.read_table(os.path.join(testdata(), "sf0.1", "events.parquet")).to_pandas()
    relabel = rng.permutation(GROUPS)
    ev["series"] = ev["event_type"] + "-g" + (relabel[ev["user_id"] % GROUPS]).astype(str)
    ev["ts"] = ev["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    feed = ev.sort_values(["ts", "event_id"], kind="stable").reset_index(drop=True)
    if feed.duplicated(["series", "ts"]).any():
        raise ValueError("relabelled feed repeats a (series, ts) key")
    n = len(feed)
    os.makedirs(out, exist_ok=True)

    def write(frame, name: str) -> str:
        path = os.path.join(out, name)
        cols = ["event_id", "ts", "series", "value"]
        pq.write_table(pa.Table.from_pandas(frame[cols], preserve_index=False), path)
        return path

    boot_end = int(n * rng.uniform(*BOOTSTRAP_SHARE))
    bootstrap = feed.iloc[:boot_end]
    batches, start, prev = [], boot_end, boot_end
    while start < n:
        end = min(n, start + int(rng.integers(*BATCH_ROWS)))
        back = int((start - prev) * rng.uniform(*OVERLAP_SHARE)) if batches else 0
        frame = feed.iloc[start - back : end]
        batches.append({"path": write(frame, f"append-{len(batches):03d}.parquet"),
                        "rows": len(frame), "overlap": back})
        prev, start = start, end

    names = sorted(bootstrap["series"].unique())
    revisions = []
    for i in range(len(batches)):
        touched = rng.choice(names, size=REVISED_SERIES, replace=False)
        pool = bootstrap[bootstrap["series"].isin(touched)]
        rows = pool.iloc[rng.choice(len(pool), size=REVISION_ROWS, replace=False)].copy()
        rows["value"] = (rows["value"] * rng.uniform(0.9, 1.1, len(rows))).round(2)
        revisions.append({"path": write(rows, f"revise-{i:03d}.parquet"),
                          "rows": len(rows), "series": sorted(touched.tolist())})

    return {
        "bootstrap": {"path": write(bootstrap, "bootstrap.parquet"), "rows": len(bootstrap)},
        "batches": batches,
        "revisions": revisions,
        "series": sorted(feed["series"].unique()),
        "params": {
            "groups": GROUPS,
            "bootstrap_rows": len(bootstrap),
            "batch_rows": list(BATCH_ROWS),
            "bootstrap_share": list(BOOTSTRAP_SHARE),
            "overlap_share": list(OVERLAP_SHARE),
            "revised_series": REVISED_SERIES,
            "revision_rows": REVISION_ROWS,
            "feed_rows": n,
            "feed_bytes": sum(_dir_bytes(os.path.join(out, f)) for f in os.listdir(out)),
        },
    }
