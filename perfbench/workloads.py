"""The workloads: what each runs per pass and how its output is checked.

A workload is one or more parts, each built from the seeded generator's
files. ``warm`` is the set-up pass (part of ``setup_s``); ``check_setup``
compares its results against an independent oracle or model; ``run_pass``
is one timed pass, whose every result is checked again outside the timer.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

PACKAGE = "datums_warehouse_spark."


def _collect(df):
    return df.toPandas()


def _utc(ts: pd.Timestamp):
    """A naive UTC wall-clock timestamp as an aware datetime, so PySpark's
    conversion does not depend on the process time zone."""
    return ts.tz_localize("UTC").to_pydatetime()


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, timestamps as µs integers, rows sorted: two frames
    hold the same row multiset iff their canonical forms are equal."""
    out = pdf[sorted(pdf.columns)].copy()
    for col in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[col]):
            ts = out[col]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            out[col] = ts.astype("datetime64[us]").astype("int64")
    return out.sort_values(list(out.columns), kind="stable").reset_index(drop=True)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return sorted(a.columns) == sorted(b.columns) and canonical(a).equals(canonical(b))


class Checks:
    """Output verdict of a run: every failed check is named on stderr."""

    def __init__(self):
        self.ran = 0
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str, detail: str = "") -> None:
        self.ran += 1
        if not ok:
            self.failed.append(what)
            print(f"perfbench: check failed: {what} {detail}".rstrip(), file=sys.stderr)

    @property
    def ok(self) -> bool:
        return self.ran > 0 and not self.failed


def duck(tmp: str, cpus: int, views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB oracle whose spill files stay in the run's temp dir."""
    spill = os.path.join(tmp, "duckdb")
    os.makedirs(spill, exist_ok=True)
    con = duckdb.connect(config={"threads": cpus, "memory_limit": "2GB", "temp_directory": spill})
    for name, path in views.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


class Queries:
    """Registered queries, one call per query per pass, in a seeded order.
    Each call's result is collected into pandas."""

    def __init__(self, sf, tables, files, queries, fresh_path):
        self.sf, self.tables, self.files = sf, tables, files
        self.queries, self.fresh_path = queries, fresh_path

    def generate(self, rng, tmp, cpus, checks) -> dict:
        self.rng, self.tmp, self.cpus, self.checks = rng, tmp, cpus, checks
        self.data = os.path.join(tmp, "data")
        files = cpus if self.files == "nproc" else self.files
        sizes = gen.tables(rng, self.sf, self.tables, files, self.data)
        return {"source": os.path.join(gen.testdata(), self.sf), "files_per_table": files,
                "queries": list(self.queries), "fresh_path_per_pass": self.fresh_path,
                "tables": sizes}

    def _path(self, k: int) -> str:
        """The input directory of pass ``k``. With ``fresh_path`` each pass
        reads the same files through a new directory name, so nothing the
        program memoises on the input path survives from pass to pass."""
        if not self.fresh_path:
            return self.data
        link = os.path.join(self.tmp, "views", f"pass-{k:04d}")
        os.makedirs(os.path.dirname(link), exist_ok=True)
        os.symlink(self.data, link)
        return link

    def warm(self, spark, qs, meter) -> list:
        self.spark, self.qs, self.meter = spark, qs, meter
        self.reference, self.passes = {}, 0
        return self.run_pass(False, warm=True)

    def run_pass(self, trace: bool, warm: bool = False) -> list:
        path = self._path(self.passes)
        self.passes += 1
        calls = []
        for i in self.rng.permutation(len(self.queries)):
            name = self.queries[i]
            fn = self.qs[name].fn
            layer = fn.__module__.removeprefix(PACKAGE)
            call, pdf = self.meter.call(name, layer, lambda: fn(self.spark, path), _collect, trace)
            calls.append(call)
            if not call.ok:
                continue
            if warm:
                self.reference[name] = pdf
            else:
                self._check_repeat(name, pdf)
        return calls

    def _check_repeat(self, name, pdf) -> None:
        """A repeated call must return the set-up result, which the oracle
        checked; by transitivity it matches the oracle too."""
        ref = self.reference.get(name)
        if ref is None:
            self.checks.expect(False, f"{name}: no checked set-up result")
            return
        ok = same_rows(pdf, ref)
        self.checks.expect(ok, f"{name}: repeated call differs from its checked result")

    def check_setup(self) -> None:
        """Every set-up result against its DuckDB oracle on the same files."""
        from datums_warehouse_spark.testing.compare import compare_frames

        views = {t: os.path.join(self.data, f"{t}.parquet") for t in self.tables}
        con = duck(self.tmp, self.cpus, views)
        try:
            for name in self.queries:
                if name not in self.reference:
                    self.checks.expect(False, f"{name}: set-up call failed")
                    continue
                oracle = con.execute(self.qs[name].oracle).df()
                res = compare_frames(name, self.reference[name], oracle)
                self.checks.expect(res.ok, f"{name}: oracle mismatch", res.detail)
        finally:
            con.close()

    def final_check(self) -> None:
        """Every timed call was checked as it returned; nothing is left."""

    def record(self) -> dict:
        return {}

    def extra_metrics(self) -> dict:
        return {}


class Feed:
    """A feed keeping a fresh ``Warehouse`` store current and reading it.

    A cycle is: ``update_incremental`` with the next append batch, ``merge``
    of a revision batch, three windowed ``series`` reads, ``candles`` of one
    series, ``latest`` and ``compact``. A pandas model of the store checks
    every return value and read as it arrives, and the whole store after
    every ``compact``.
    """

    reads = 3  # windowed series() reads per cycle

    def generate(self, rng, tmp, cpus, checks) -> dict:
        self.rng, self.tmp, self.cpus, self.checks = rng, tmp, cpus, checks
        self.feed = gen.warehouse_feed(rng, os.path.join(tmp, "feed"))
        return {"source": os.path.join(gen.testdata(), "sf0.1", "events.parquet"),
                **self.feed["params"]}

    def warm(self, spark, qs, meter) -> list:
        from datums_warehouse_spark.warehouse import SCHEMA, Warehouse

        self.spark, self.meter, self.schema = spark, meter, SCHEMA
        self.candles_sql = qs["a8_candles_1h"].oracle
        self.store_root = os.path.join(self.tmp, "store")
        self.wh = Warehouse(spark, self.store_root)
        self.model = self._load(self.feed["bootstrap"]["path"])
        self.next_batch = 0
        self.stats = {"offered": 0, "accepted": 0, "revised": 0, "rewritten": 0,
                      "user_bytes": 0, "written_bytes": 0, "files_per_series": []}
        boot = spark.read.schema(SCHEMA).parquet(self.feed["bootstrap"]["path"])
        call, _ = meter.call("ingest", "warehouse.ingest", lambda: self.wh.ingest(boot), None, False)
        return [call, *self.run_pass(False)]

    def _load(self, path: str) -> pd.DataFrame:
        pdf = pd.read_parquet(path)
        pdf["ts"] = pdf["ts"].dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        return pdf

    def _files(self) -> dict[str, int]:
        path = self.wh.path
        return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path) for f in fs}

    def _write(self, op, fn, trace, user_path=None):
        """A timed Warehouse write; also returns the store files it created
        or changed, and counts their bytes as written."""
        before = self._files()
        call, out = self.meter.call(op, f"warehouse.{op}", fn, None, trace)
        written = {p: s for p, s in self._files().items() if before.get(p) != s}
        self.stats["written_bytes"] += sum(written.values())
        if user_path is not None:
            self.stats["user_bytes"] += os.path.getsize(user_path)
        return call, out, written

    def run_pass(self, trace: bool) -> list:
        """One cycle. Returns [] once the feed is used up."""
        if self.next_batch == len(self.feed["batches"]):
            return []
        calls = self._round(self.next_batch, trace)
        self.next_batch += 1
        files = self._files()
        parquet = sum(1 for p in files if p.endswith(".parquet"))
        self.stats["files_per_series"].append(parquet / self.model["series"].nunique())
        call, n, _ = self._write("compact", self.wh.compact, trace)
        calls.append(call)
        if call.ok:
            self.checks.expect(n == len(self.model), "compact: rows rewritten != store rows")
            self.check_store("after compact")
        return calls

    def _round(self, i: int, trace: bool) -> list:
        calls = []
        batch, rev = self.feed["batches"][i], self.feed["revisions"][i]
        df = self.spark.read.schema(self.schema).parquet(batch["path"])
        call, n, _ = self._write(
            "append", lambda: self.wh.update_incremental(df), trace, batch["path"])
        offered = self._load(batch["path"])
        cursor = self.model.groupby("series")["ts"].max()
        fresh = offered[offered["ts"] > offered["series"].map(cursor).fillna(pd.Timestamp.min)]
        self.model = pd.concat([self.model, fresh], ignore_index=True)
        self.stats["offered"] += len(offered)
        self.stats["accepted"] += len(fresh)
        calls.append(call)
        if call.ok:
            self.checks.expect(n == len(fresh), f"append {i}: returned {n}, model {len(fresh)}")

        up = self.spark.read.schema(self.schema).parquet(rev["path"])
        call, n, written = self._write("merge", lambda: self.wh.merge(up), trace, rev["path"])
        revised = self._load(rev["path"])
        keys = pd.MultiIndex.from_frame(revised[["series", "ts"]])
        kept = ~pd.MultiIndex.from_frame(self.model[["series", "ts"]]).isin(keys)
        self.model = pd.concat([self.model[kept], revised], ignore_index=True)
        self.stats["revised"] += len(revised)
        self.stats["rewritten"] += sum(
            pq.read_metadata(p).num_rows for p in written if p.endswith(".parquet"))
        calls.append(call)
        if call.ok:
            # merge returns the merged row count of the partitions it touched
            touched = int(self.model["series"].isin(rev["series"]).sum())
            self.checks.expect(n == touched, f"merge {i}: returned {n}, model {touched}")

        lo, hi = self.model["ts"].min(), self.model["ts"].max()
        for name in self.rng.choice(self.feed["series"], size=self.reads, replace=False):
            days = int(self.rng.integers(1, 6))
            since = lo + (hi - lo - pd.Timedelta(days=days)) * float(self.rng.uniform())
            since = since.floor("s")
            until = since + pd.Timedelta(days=days)
            call, got = self.meter.call(
                "read", "warehouse.read",
                lambda: self.wh.series(name, _utc(since), _utc(until)),
                _collect, trace,
            )
            m = self.model
            want = m[(m["series"] == name) & (m["ts"] >= since) & (m["ts"] < until)]
            calls.append(call)
            if call.ok:
                self.checks.expect(same_rows(got, want), f"read {name} [{since}, {until})")

        name = str(self.rng.choice(self.feed["series"]))
        call, got = self.meter.call("candles", "warehouse.candles",
                                    lambda: self.wh.candles(name, "hour"), _collect, trace)
        calls.append(call)
        if call.ok:
            self._check_candles(name, got)

        call, got = self.meter.call("latest", "warehouse.latest", self.wh.latest, _collect, trace)
        calls.append(call)
        if call.ok:
            want = self.model.groupby("series").agg(cursor=("ts", "max"), n=("ts", "size"))
            self.checks.expect(same_rows(got, want.reset_index()), "latest")
        return calls

    def _check_candles(self, name, got) -> None:
        """Against the a8 candles oracle SQL run by DuckDB on the model."""
        from datums_warehouse_spark.testing.compare import compare_frames

        events = self.model[self.model["series"] == name].rename(columns={"series": "event_type"})
        con = duckdb.connect(config={"threads": self.cpus})
        try:
            con.register("events", events)
            want = con.execute(self.candles_sql).df()
        finally:
            con.close()
        res = compare_frames("candles", got, want)
        self.checks.expect(res.ok, f"candles {name}", res.detail)

    def check_store(self, when: str) -> None:
        """The store's files, read by pyarrow rather than through Spark."""
        got = pq.read_table(self.wh.path, partitioning="hive").to_pandas()
        got["series"] = got["series"].astype(str)
        self.checks.expect(same_rows(got, self.model), f"store rows {when}")

    def check_setup(self) -> None:
        """The warm cycle was checked as it ran, ending with the whole store."""

    def final_check(self) -> None:
        self.check_store("at end of run")

    def record(self) -> dict:
        """What the feed offered, fixed by the seed: input, not a measurement."""
        s = self.stats
        return {"offered_rows": s["offered"], "fresh_rows": s["accepted"],
                "revised_rows": s["revised"]}

    def extra_metrics(self) -> dict:
        """Store-level numbers of the run, for the per-layer record. Rewritten
        rows and written bytes are read from the files the program wrote."""
        s = self.stats
        files = self._files()
        return {
            "warehouse.merge_rewrite_ratio": s["rewritten"] / s["revised"],
            "warehouse.bytes_written_per_user_byte": s["written_bytes"] / s["user_bytes"],
            "warehouse.files_per_series": float(np.median(s["files_per_series"])),
            "warehouse.store_bytes_per_row": sum(files.values()) / len(self.model),
        }


class Workload:
    """Named parts run one after another in every pass, sharing one verdict."""

    def __init__(self, name: str, why: str, parts: dict):
        self.name, self.why, self.parts = name, why, parts
        self.checks = Checks()

    def generate(self, rng, tmp, cpus) -> dict:
        rngs = rng.spawn(len(self.parts))
        return {
            label: part.generate(r, os.path.join(tmp, label), cpus, self.checks)
            for r, (label, part) in zip(rngs, self.parts.items())
        }

    def warm(self, spark, qs, meter) -> list:
        return [c for part in self.parts.values() for c in part.warm(spark, qs, meter)]

    def run_pass(self, trace: bool) -> list:
        """One pass of every part; [] once any part has run out of input."""
        calls = []
        for part in self.parts.values():
            got = part.run_pass(trace)
            if not got:
                return []
            calls += got
        return calls

    def check_setup(self) -> None:
        for part in self.parts.values():
            part.check_setup()

    def final_check(self) -> None:
        for part in self.parts.values():
            part.final_check()

    def record(self) -> dict:
        return {label: part.record() for label, part in self.parts.items()}

    def extra_metrics(self) -> dict:
        return {k: v for part in self.parts.values() for k, v in part.extra_metrics().items()}


TS_QUERIES = ("a8_candles_1h", "x3_interpolate_linear", "j9_asof_join", "j3_star_join")
CORPUS_QUERIES = ("l2_dedup_clusters", "l33_dup_passages", "l41_semdedup_pairs")
STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

WORKLOADS = {
    "corpus_dedup": lambda: Workload(
        "corpus_dedup",
        "the shuffle-heavy LLM dedup and similarity pipeline (pandas kernels, eager label "
        "propagation) over a fresh corpus drop each pass; warehouse_rw is its no-llm control",
        {"corpus": Queries("sf0.1", ("documents", "embeddings"), "nproc", CORPUS_QUERIES,
                           fresh_path=True)},
    ),
    "warehouse_rw": lambda: Workload(
        "warehouse_rw",
        "an analyst's short time-series and relational queries beside a feed that appends, "
        "merges, compacts and reads a Warehouse store; no llm module runs",
        {"analyst": Queries("sf0.01", STAR, 1, TS_QUERIES, fresh_path=False), "feed": Feed()},
    ),
}
