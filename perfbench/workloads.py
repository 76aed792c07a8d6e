"""The benchmark workloads.

Each workload drives the program through its public functions only, as a
single closed-loop client: the next operation starts when the previous one
returned.  A workload generates its inputs from the seed before Spark
starts (``prepare``), runs one untimed pass with the full correctness
checks (``warm``), then timed operations (``measure``).  A workload keeps
the latencies of its timed operations in ``op_s`` (``traced_op_s`` for
the traced ones); ``warm``, ``measure`` and ``finish`` return the outcome
of each call they checked.  A failed check is recorded in
``self.problems`` and counts its call as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from meter import Counts, Tracer, count_groups, median, tail
from playlists import (
    OfflineFetcher,
    PlaylistCatalog,
    PlaylistSpec,
    extraction_time,
    playlist_url,
)
import warehouse
from spotify_etl_pipeline_spark.etl.normalize import normalize_documents, read_bronze
from spotify_etl_pipeline_spark.etl.star import build_gold, reference_analytics, write_gold
from spotify_etl_pipeline_spark.etl.validate import validate_star
from spotify_etl_pipeline_spark.queries.catalog import full_catalog
from spotify_etl_pipeline_spark.sources.ingest import PlaylistExtractor
from spotify_etl_pipeline_spark.streaming.pipeline import (
    SILVER_TABLES,
    read_silver,
    run_incremental,
)

LINEAGE_TS = "2024-04-01 00:00:00"


def dir_bytes(path: Path) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (Spark's ``_SUCCESS``
    markers and ``.crc`` sidecars excluded)."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def parquet_rows(path: Path) -> int:
    return sum(
        pq.read_metadata(p).num_rows for p in path.rglob("*.parquet")
    )


def rows_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: rows sorted by their repr."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class Workload:
    name = ""
    #: timed operations a run makes at the least, whatever ``--seconds``
    #: says.  Chosen so that MIN_OPS operations outlast the run length: the
    #: first timed operations still run slower (JIT warm-up), so a count
    #: that varied with machine speed would move the median.
    MIN_OPS = 1

    def __init__(self, work: Path, seed: int, tracer: Tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.problems: list[str] = []
        self.op_s: list[float] = []
        self.traced_op_s: list[float] = []

    def record(self, dt: float, traced: bool) -> None:
        (self.traced_op_s if traced else self.op_s).append(dt)

    def span(self, traced: bool, name: str):
        """A tracer span around a layer call in a traced operation."""
        return self.tracer.span(name) if traced else nullcontext()

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self, spark: SparkSession) -> list[bool]:
        raise NotImplementedError

    def measure(self, spark: SparkSession, k: int) -> list[bool] | None:
        """Timed operation ``k`` (from 1); None once the inputs run out.
        Traced runs trace every other operation, so the tracing overhead
        is measured within one process."""
        raise NotImplementedError

    def finish(self, spark: SparkSession) -> list[bool]:
        return []

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics by name: (value, unit)."""
        raise NotImplementedError

    def trace_overhead(self) -> float | None:
        """Median traced over median untraced operation time, minus one.
        Only meaningful where traced and untraced operations do the same
        work; a workload where they do not returns None."""
        if not (self.op_s and self.traced_op_s):
            return None
        return median(self.traced_op_s) / median(self.op_s) - 1.0


# --------------------------------------------------------------------------
class PlaylistBatch(Workload):
    """The paper's pipeline end to end, one pass per operation: extract every
    playlist from the offline API into a fresh bronze zone, normalize to
    silver, build and write the gold star schema, read it back, validate it
    and run the reference analytics."""

    name = "playlist_batch"
    MIN_OPS = 3
    # more tracks per playlist than the extractor's page size, so every
    # extraction pages through the track list
    SPEC = PlaylistSpec(n_playlists=250, tracks_per_playlist=200, pool_tracks=6000)

    def prepare(self) -> None:
        self.cat = PlaylistCatalog(self.seed, self.SPEC)
        self.expected = self.cat.expected_gold()
        self.extract_ms: list[float] = []
        self.fetch_calls = 0
        self.extracts = 0
        self.extract_failed = 0
        self.bronze_bytes = 0
        self.gold = (0, 0)

    def _extract(self, bronze: Path) -> None:
        for k, pid in enumerate(self.cat.playlist_ids):
            fetch = OfflineFetcher(self.cat.info(k), self.cat.playlists[k])
            ex = PlaylistExtractor(
                str(bronze), fetcher=fetch, now=lambda ts=extraction_time(k): ts
            )
            t0 = time.perf_counter()
            try:
                ex.extract(playlist_url(pid))
            except Exception:
                self.extract_failed += 1
                raise
            finally:
                self.extract_ms.append((time.perf_counter() - t0) * 1e3)
                self.fetch_calls += fetch.calls
                self.extracts += 1

    def _pass(self, spark: SparkSession, k: int, traced: bool) -> tuple[float, bool]:
        root = self.work / f"pass{k}"
        bronze, gold_dir = root / "bronze", root / "gold"
        t0 = time.perf_counter()
        noop_s = 0.0
        with self.span(traced, "sources.extract"):
            self._extract(bronze)
        with self.span(traced, "etl.normalize"):
            silver = normalize_documents(
                read_bronze(spark, f"{bronze}/raw_data/to_processed/*.json")
            )
            if traced:
                # materialize silver alone, so etl.normalize_s is its own
                # time.  The program never runs these noop jobs (write_gold
                # recomputes silver), so they get a span of their own, out
                # of the etl counts, and their time is taken out of the
                # operation's
                t_noop = time.perf_counter()
                with self.span(traced, "etl.normalize.materialize"):
                    for df in silver.values():
                        df.write.format("noop").mode("overwrite").save()
                noop_s = time.perf_counter() - t_noop
        ts = F.lit(LINEAGE_TS).cast("timestamp")
        with self.span(traced, "etl.write_gold"):
            write_gold(build_gold(silver, ts, ts), str(gold_dir))
        gold = {n: spark.read.parquet(f"{gold_dir}/{n}") for n in ("tblSongs", "tblAlbum", "tblArtist")}
        with self.span(traced, "etl.validate"):
            violations = {n: df.count() for n, df in validate_star(gold).items()}
        with self.span(traced, "etl.analytics"):
            out = {n: df.collect() for n, df in reference_analytics(gold).items()}
        elapsed = time.perf_counter() - t0 - noop_s

        exp = self.expected
        counts = {r["table_name"]: r["row_count"] for r in out["health_rowcounts"]}
        top10 = [tuple(r) for r in out["top10_songs"]]
        ok = self.check(
            counts == {t: exp[t] for t in ("tblSongs", "tblAlbum", "tblArtist")},
            f"pass {k}: gold row counts {counts}",
        )
        ok &= self.check(not any(violations.values()), f"pass {k}: violations {violations}")
        ok &= self.check(top10 == exp["top10"], f"pass {k}: top10 differs")
        self.bronze_bytes = dir_bytes(bronze / "raw_data")[1]
        self.gold = dir_bytes(gold_dir)
        shutil.rmtree(root)
        return elapsed, ok

    def warm(self, spark: SparkSession) -> list[bool]:
        ok = self._pass(spark, 0, False)[1]
        self.extract_ms.clear()  # warm-up numbers describe a cold engine
        return [ok]

    def measure(self, spark: SparkSession, k: int) -> list[bool]:
        traced = self.tracer.enabled and k % 2 == 1
        with self.span(traced, f"{self.name}.op"):
            dt, ok = self._pass(spark, k, traced)
        self.record(dt, traced)
        return [ok]

    def metrics(self) -> dict[str, tuple[float, str]]:
        items = self.expected["track_items"]
        t = tail(self.extract_ms)
        out = {
            "sources.extract_ms_p50": (median(self.extract_ms), "ms"),
            "sources.extract_ms_tail": (t[0] if t else 0.0, "ms"),
            "sources.fetch_calls_per_playlist": (self.fetch_calls / self.extracts, "count"),
            "sources.bronze_bytes_per_track": (self.bronze_bytes / items, "B"),
            "sources.extract_failed": (self.extract_failed, "count"),
            "etl.dedup_keep_ratio": (self.expected["tblSongs"] / items, "ratio"),
            "etl.gold_files": (self.gold[0], "count"),
            "etl.gold_bytes": (self.gold[1], "B"),
            "gold_bytes_per_input_byte": (self.gold[1] / self.bronze_bytes, "ratio"),
        }
        if self.op_s:
            out["batch_tracks_per_s"] = (items / median(self.op_s), "1/s")
        if self.tracer.enabled:
            counts = Counts()
            for stage in ("normalize", "write_gold", "validate", "analytics"):
                durs, c = self.tracer.totals(f"etl.{stage}")
                out[f"etl.{stage}_s"] = (median(durs) if durs else 0.0, "s")
                counts.add(c)
            n = max(1, len(self.traced_op_s))
            for key in ("jobs", "stages", "tasks"):
                out[f"etl.{key}"] = (getattr(counts, key) / n, "count")
        return out


# --------------------------------------------------------------------------
class _RunIds(StreamingQueryListener):
    """Collects the run id of every streaming query started: a query runs
    its micro-batch jobs under a job group named after its run id."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class PlaylistIncremental(Workload):
    """Event-driven incremental ETL: each operation lands one increment of
    playlist snapshots in the watched bronze directory and calls
    ``run_incremental``, which upserts the silver snapshot.  Latency runs
    from the start of the landing to the return with the pointers flipped.

    The warm pass loads the base set and the first increment; timed
    operations land every following increment in order, whatever
    ``--seconds`` says.  Each epoch rewrites the whole silver snapshot, so
    its cost grows with the table: every run times the same epochs, and a
    faster ``run_incremental`` shows as lower latencies, not as more
    (and larger) epochs entering the median."""

    name = "playlist_incremental"
    BASE = 100
    EPOCHS = 11  # staged increments after the base set
    MIN_OPS = EPOCHS - 1  # the first increment lands in the warm pass
    PER_EPOCH = 20  # snapshots landed per increment
    SPEC = PlaylistSpec(
        n_playlists=BASE + EPOCHS * PER_EPOCH,
        tracks_per_playlist=200,
        pool_tracks=6000,
        reextract_share=0.5,
    )

    def prepare(self) -> None:
        cat = PlaylistCatalog(self.seed, self.SPEC)
        rng = np.random.default_rng([self.seed, 0x1AC])
        self.staging = self.work / "staging"
        for epoch in range(self.EPOCHS + 1):
            if epoch == 0:
                batch = [(k, cat.playlists[k]) for k in range(self.BASE)]
            else:
                n_again = round(self.PER_EPOCH * self.SPEC.reextract_share)
                n_new = self.PER_EPOCH - n_again
                first_new = self.BASE + (epoch - 1) * n_new
                new = [(k, cat.playlists[k]) for k in range(first_new, first_new + n_new)]
                again = rng.choice(first_new, n_again, replace=False)
                batch = new + [(int(k), cat.refreshed(int(k), epoch)) for k in again]
            out = self.staging / f"epoch{epoch}"
            for k, items in batch:
                ex = PlaylistExtractor(
                    str(out),
                    fetcher=OfflineFetcher(cat.info(k), items),
                    now=lambda ts=extraction_time(k, epoch): ts,
                )
                ex.extract(playlist_url(cat.playlist_ids[k]))
        root = self.work / "zone"
        self.landing, self.silver, self.ckpt = root / "landing", root / "silver", root / "ckpt"
        self.landed_bytes: list[int] = []
        self.silver_written: list[int] = []
        self.rows_written: list[int] = []
        self.rows_new: list[int] = []
        self.listener: _RunIds | None = None

    def _land(self, epoch: int) -> int:
        self.landing.mkdir(parents=True, exist_ok=True)
        size = 0
        for src in sorted((self.staging / f"epoch{epoch}" / "raw_data" / "to_processed").iterdir()):
            shutil.copyfile(src, self.landing / src.name)
            size += src.stat().st_size
        return size

    def _snapshots(self) -> dict[str, Path]:
        out = {}
        for t in SILVER_TABLES:
            ptr = self.silver / t / "_CURRENT"
            if ptr.exists():
                out[t] = self.silver / t / ptr.read_text().strip()
        return out

    def _epoch(self, spark: SparkSession, epoch: int, traced: bool) -> tuple[float, bool]:
        before = self._snapshots()
        rows_before = sum(parquet_rows(p) for p in before.values())
        n_ids = len(self.listener.run_ids) if self.listener else 0
        t0 = time.perf_counter()
        landed = self._land(epoch)
        with self.span(traced, "streaming.run_incremental") as rec:
            run_incremental(spark, str(self.landing), str(self.silver), str(self.ckpt))
        dt = time.perf_counter() - t0
        if rec is not None:  # claim the micro-batch jobs of this call
            rec.counts.add(count_groups(spark.sparkContext, self.listener.run_ids[n_ids:]))
        after = self._snapshots()
        ok = self.check(
            all(after.get(t) != before.get(t) for t in SILVER_TABLES),
            f"epoch {epoch}: silver pointers did not flip",
        )
        self.landed_bytes.append(landed)
        self.silver_written.append(sum(dir_bytes(p)[1] for p in after.values()))
        rows_after = sum(parquet_rows(p) for p in after.values())
        self.rows_written.append(rows_after)
        self.rows_new.append(rows_after - rows_before)
        return dt, ok

    def warm(self, spark: SparkSession) -> list[bool]:
        if self.tracer.enabled:
            self.listener = _RunIds()
            spark.streams.addListener(self.listener)
        oks = [self._epoch(spark, 0, False)[1], self._epoch(spark, 1, False)[1]]
        # warm-up numbers describe a cold engine: keep them out of the stats
        for lst in (self.landed_bytes, self.silver_written, self.rows_written, self.rows_new):
            lst.clear()
        return oks

    def measure(self, spark: SparkSession, k: int) -> list[bool] | None:
        if k + 1 > self.EPOCHS:
            return None  # every staged increment has landed
        traced = self.tracer.enabled and k % 2 == 1
        with self.span(traced, f"{self.name}.op"):
            dt, ok = self._epoch(spark, k + 1, traced)
        self.record(dt, traced)
        return [ok]

    def finish(self, spark: SparkSession) -> list[bool]:
        """The final silver must equal a batch normalize over every landed
        file (count and order-insensitive digest)."""
        batch = normalize_documents(read_bronze(spark, f"{self.landing}/*.json"))
        oks = []
        for t in SILVER_TABLES:
            live = read_silver(spark, str(self.silver), t)
            a = live.collect()
            b = batch[t].select(live.columns).collect()
            oks.append(self.check(
                len(a) == len(b) and rows_digest(a) == rows_digest(b),
                f"silver {t}: {len(a)} rows vs batch {len(b)}",
            ))
        return oks

    def trace_overhead(self) -> None:
        # traced and untraced epochs rewrite silver tables of different
        # sizes, so their latencies do not compare
        return None

    def metrics(self) -> dict[str, tuple[float, str]]:
        lat = self.op_s or self.traced_op_s
        t = tail(lat)
        epochs = max(1, len(self.silver_written))
        out = {
            "incr_latency_p50_s": (median(lat), "s"),
            "incr_latency_tail_s": (t[0] if t else 0.0, "s"),
            "silver_write_amp": (sum(self.silver_written) / sum(self.landed_bytes), "ratio"),
            "streaming.silver_bytes_written_per_epoch": (sum(self.silver_written) / epochs, "B"),
            "streaming.rows_rewritten_per_new_row": (
                sum(self.rows_written) / max(1, sum(self.rows_new)), "ratio"),
            "streaming.live_snapshot_bytes": (
                sum(dir_bytes(p)[1] for p in self._snapshots().values()), "B"),
        }
        if self.tracer.enabled:
            durs, counts = self.tracer.totals("streaming.run_incremental")
            n = max(1, len(durs))
            out["streaming.jobs_per_epoch"] = (counts.jobs / n, "count")
            out["streaming.tasks_per_epoch"] = (counts.tasks / n, "count")
        return out


# --------------------------------------------------------------------------
class WarehouseAnalytics(Workload):
    """The catalog's relational query surface over generated warehouse
    tables.  One operation is an analyst session: every entry once, in a
    seeded order.  The cache is cleared before each query and each result
    goes to a noop sink, with its row count observed and checked against
    the warm pass.  Two Arrow and sketch operator entries ride along so the
    ``operators`` layer is measured on this workload too."""

    name = "warehouse_analytics"
    MIN_OPS = 2
    # the analyst mix: health and freshness checks, star and multi-way
    # joins, aggregates, subqueries, windows, cube, exact and sketched
    # distinct counts, as-of join, JSON extraction and sessionization
    QUERIES = (
        "health_rowcounts", "freshness_latest_ship", "pipeline_latency_minutes",
        "order_priority_distribution", "star_join_top_items",
        "flagship_top_revenue", "pricing_summary", "q5_local_supplier_volume",
        "q18_large_volume_orders", "latest_order_per_customer",
        "window_running_sum", "cube_lineitem", "count_distinct_exact",
        "approx_count_distinct", "asof_last_purchase_before_click",
        "json_props_extract", "events_sessionize", "events_sliding_counts",
    )
    OPERATORS = ("knn_brute_force_arrow", "cms_topk_serving")

    def prepare(self) -> None:
        self.tables = self.work / "tables"
        warehouse.generate(self.tables, self.seed)
        self.catalog = full_catalog()
        self.entries = [*self.QUERIES, *self.OPERATORS]
        self.rows: dict[str, int] = {}
        self.query_s: list[float] = []  # untraced, per query

    def _order(self, k: int) -> list[str]:
        perm = np.random.default_rng([self.seed, k]).permutation(len(self.entries))
        return [self.entries[i] for i in perm]

    def _layer(self, name: str) -> str:
        return "operators" if name in self.OPERATORS else "queries"

    def warm(self, spark: SparkSession) -> list[bool]:
        con = duckdb.connect()
        for t in sorted(p.stem for p in self.tables.glob("*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        oks = []
        for name in self._order(0):
            spec = self.catalog[name]
            df = spec.fn(spark, str(self.tables))
            rows = [tuple(r) for r in df.collect()]
            self.rows[name] = len(rows)
            ok = self.check(len(rows) > 0, f"{name}: empty result")
            if spec.oracle is not None:
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                ok &= self.check(
                    sorted(cols) == sorted(df.columns)
                    and _canonical(df.columns, rows) == _canonical(cols, res.fetchall()),
                    f"{name}: differs from its DuckDB oracle",
                )
            oks.append(ok)
        con.close()
        return oks

    def measure(self, spark: SparkSession, k: int) -> list[bool]:
        traced = self.tracer.enabled and k % 2 == 1
        with self.span(traced, f"{self.name}.op"):
            return self._session(spark, k, traced)

    def _session(self, spark: SparkSession, k: int, traced: bool) -> list[bool]:
        out = []
        t_pass = time.perf_counter()
        for name in self._order(k):
            spark.catalog.clearCache()
            obs = Observation(f"rows_{k}_{name}")
            t0 = time.perf_counter()
            with self.span(traced, f"{self._layer(name)}.{name}"):
                df = self.catalog[name].fn(spark, str(self.tables))
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
            dt = time.perf_counter() - t0
            n = obs.get["n"]
            ok = self.check(n == self.rows[name], f"pass {k} {name}: {n} rows, warm pass {self.rows[name]}")
            if not traced:
                self.query_s.append(dt)
            out.append(ok)
        self.record(time.perf_counter() - t_pass, traced)
        return out

    def metrics(self) -> dict[str, tuple[float, str]]:
        out: dict[str, tuple[float, str]] = {}
        if self.query_s:
            t = tail(self.query_s)
            out["analytics_query_p50_s"] = (median(self.query_s), "s")
            out["analytics_query_tail_s"] = (t[0] if t else 0.0, "s")
            out["analytics_qps"] = (len(self.query_s) / sum(self.query_s), "1/s")
        if self.tracer.enabled:
            for name in self.entries:
                layer = self._layer(name)
                durs, c = self.tracer.totals(f"{layer}.{name}")
                n = max(1, len(durs))
                out[f"{layer}.{name}.s"] = (median(durs) if durs else 0.0, "s")
                out[f"{layer}.{name}.tasks"] = (c.tasks / n, "count")
                if layer == "operators":
                    out[f"{layer}.{name}.jobs"] = (c.jobs / n, "count")
        return out


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Rows with columns in name order, cells stringified (floats at 6dp),
    sorted: equal results compare equal whatever their row order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (PlaylistBatch, PlaylistIncremental, WarehouseAnalytics)}
