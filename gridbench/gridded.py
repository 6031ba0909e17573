"""The two workloads: the ETL lifecycle of a table, and grid queries.

Both publish CHIRPS-shaped daily NetCDF3 files through
``DatasetManager.run_etl`` into a ``GriddedTable``; they differ in which
layer carries the work (decode, write and the update protocol over a
stored table, or the read path).  The grid queries' loop also runs the
corpus ops of ``corpus.py``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import warnings
from statistics import mean

import numpy as np
from pyspark.sql import functions as F

from gridbench import synth
from gridbench.common import Workload, median, quantile, tail_quantile
from gridbench.corpus import Corpus
from gridbench.synth import CELLS, LATS, LONS_STD, day_grid, day_time, truth, write_days
from gridded_etl_tools_spark.manager import DatasetManager
from gridded_etl_tools_spark.operators import aggregations
from gridded_etl_tools_spark.sinks import zarr_sink
from gridded_etl_tools_spark.sources import zarr2

ONE_DAY = dt.timedelta(days=1)
DIMS = ["time", "latitude", "longitude"]
#: zarr chunk (days, lat, lon): a 4 x 4 spatial chunk grid, 15 days deep
CHUNKS = (15, 12, 20)
DAYS_1970 = (synth.EPOCH - dt.datetime(1970, 1, 1)).days
STEP = 0.25


class Chirps(DatasetManager):
    dataset_name = "gridbench_chirps"
    data_var = "precip"
    unit = "mm"
    missing_value = synth.SENTINEL
    spatial_resolution = STEP
    time_resolution = "daily"
    time_epoch = synth.EPOCH


def to_grid(pdf, col: str = "precip") -> np.ndarray:
    """A one-day long-form frame back onto the (lat, lon) grid."""
    g = np.full((LATS.size, LONS_STD.size), np.nan)
    i = np.rint((pdf["latitude"].to_numpy() - LATS[0]) / STEP).astype(int)
    j = np.rint((pdf["longitude"].to_numpy() - LONS_STD[0]) / STEP).astype(int)
    g[i, j] = pdf[col].to_numpy(dtype="f8", na_value=np.nan)
    return g


def same(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and bool(np.array_equal(a, b, equal_nan=True))


def close(a, b, rtol: float = 1e-9) -> bool:
    a, b = np.asarray(a, "f8"), np.asarray(b, "f8")
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol, atol=1e-9, equal_nan=True))


def read_day(spark, table, day: int) -> tuple[np.ndarray, int]:
    t = day_time(day)
    pdf = table.read(spark, time_lo=t, time_hi=t).select(
        "latitude", "longitude", "precip"
    ).toPandas()
    return to_grid(pdf), len(pdf)


def zarr_frame(spark, table):
    """The published table as zarr input: time as days since 1970."""
    return table.read(spark).select(
        (F.unix_micros("time") / 86_400_000_000.0).alias("time"),
        "latitude", "longitude", "precip",
    )


def export_zarr(spark, table, root: str) -> dict:
    return zarr_sink.write_zarr_distributed(
        zarr_frame(spark, table), root, "precip", DIMS,
        value_col="precip", chunks=CHUNKS,
    )


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


def live_bytes(table) -> tuple[int, int]:
    """(bytes, rows) of the files the current snapshot references."""
    entries = table.snapshot().entries
    return sum(os.path.getsize(e["path"]) for e in entries), sum(e["rows"] for e in entries)


class EtlLifecycle(Workload):
    """The ETL lifecycle of one table.  A block starts with an archive
    ingest: 64 daily files (1981-01-01 to 03-05, three monthly buckets)
    through run_etl into a fresh table, then the published frame
    exported to a Zarr v2 store.  One-file updates to that table follow:
    a re-issued past day (the insert path, which rewrites that day's
    monthly bucket) and an append of the next day."""

    name = "etl_lifecycle"
    pattern = ["ingest", "insert", "append"]
    #: each op kind once, on a table of WARM_DAYS: the JVM compiles the
    #: ops' code paths at a fraction of a full block's cost
    warmup_ops = 1
    DAYS = 64
    #: 1981-01-30 to 02-02: two monthly buckets
    WARM_DAYS = range(29, 33)

    def build(self) -> None:
        self.root = None
        self.full_checked = False
        self.zarr_bytes_per_cell = 0.0
        #: table bytes the ops added, and the raw bytes they were given
        self.bytes_written = 0
        self.user_bytes = 0
        self.warm_raw = self.run.path("raw_warm")
        write_days(self.warm_raw, self.seed, self.WARM_DAYS)

    def prepare(self, rep: int) -> None:
        """The archive's raw files."""
        self.raw = self.run.path(f"raw{rep}")
        shutil.rmtree(self.raw, ignore_errors=True)
        self.raw_bytes_per_op = write_days(self.raw, self.seed, range(self.DAYS))

    def op(self, kind: str) -> None:
        if kind == "ingest":
            self.ingest(kind)
        else:
            self.update(kind)

    # -- archive ingest ------------------------------------------------------

    def ingest(self, kind: str) -> None:
        old, self.root = self.root, self.run.path(f"ingest{self.run.attempted}")
        raw, days = (self.warm_raw, self.WARM_DAYS) if self.warming else (self.raw, range(self.DAYS))
        m = Chirps(os.path.join(self.root, "table"))
        t_etl, report = self.call(kind, m.run_etl, self.spark, raw, expected_delta=ONE_DAY)
        store = os.path.join(self.root, "store.zarr")
        t_zarr, summary = self.call(kind, export_zarr, self.spark, m.table, store)
        self.record(kind, t_etl + t_zarr, len(days) * CELLS)
        self.m = m
        #: the archive's days, and what each stored day must hold now
        self.days = days
        self.expected = {d: truth(day_grid(self.seed, d)) for d in days}
        self.versions = {d: 0 for d in days}
        self.next_day = days[-1] + 1
        with self.run.tracer.paused():
            self.check_ingest(report, summary, store, full=not (self.warming or self.full_checked))
        if not self.warming:
            self.bytes_written += live_bytes(m.table)[0]
            self.user_bytes += self.raw_bytes_per_op
        shutil.rmtree(store)
        if old:
            shutil.rmtree(old)

    def check_ingest(self, report, summary, store, full: bool) -> None:
        run, spark, table = self.run, self.spark, self.m.table
        points = len(self.days) * CELLS
        run.check(report["mode"] == "initial", f"ingest mode {report}")
        rows = live_bytes(table)[1]
        run.check(rows == points, f"ingest wrote {rows} rows")
        run.check(summary["n_cells"] == points, f"zarr wrote {summary}")
        day = int(self.rng.choice(self.days))
        grid, n = read_day(spark, table, day)
        run.check(n == CELLS and same(grid, self.expected[day]), f"ingest values of day {day}")
        if not full:
            return
        self.full_checked = True
        self.zarr_bytes_per_cell = tree_bytes(store) / summary["n_cells"]
        cube = np.stack([self.expected[d] for d in self.days])
        tbl = table.read(spark).agg(F.count("precip"), F.sum("precip")).collect()[0]
        run.check(rows - tbl[0] == int(np.isnan(cube).sum()), "sentinels stored as NULL")
        run.check(tbl[0] == int((~np.isnan(cube)).sum()) and close(tbl[1], np.nansum(cube)),
                  "table checksum")
        z = zarr2.decode_zarr_long(spark, store, "precip").agg(
            F.count("value"), F.sum("value")
        ).collect()[0]
        run.check(z[0] == tbl[0] and close(z[1], tbl[1]), "zarr readback checksum")

    # -- daily updates -------------------------------------------------------

    def update(self, kind: str) -> None:
        if kind == "append":
            day, version = self.next_day, 0
            self.next_day += 1
        else:
            day = int(self.rng.choice(self.days))
            version = self.versions[day] + 1
        raw = self.run.path("updates", str(self.run.attempted))
        nbytes = write_days(raw, self.seed, [day], version)
        before = {e["path"] for e in self.m.table.snapshot().entries}
        t, report = self.call(kind, self.m.run_etl, self.spark, raw, expected_delta=ONE_DAY)
        self.versions[day] = version
        new = truth(day_grid(self.seed, day, version))
        # an insert is combine_first: cells the re-issued file leaves
        # missing keep their stored values
        self.expected[day] = (
            np.where(np.isnan(new), self.expected[day], new) if kind == "insert" else new
        )
        self.record(kind, t, CELLS)
        with self.run.tracer.paused():
            self.check_update(kind, day, report)
        if not self.warming:
            self.bytes_written += sum(
                os.path.getsize(e["path"])
                for e in self.m.table.snapshot().entries if e["path"] not in before
            )
            self.user_bytes += nbytes

    def check_update(self, kind, day, report) -> None:
        run, spark, table = self.run, self.spark, self.m.table
        want = (0, 1) if kind == "append" else (1, 0)
        got = (report.get("n_inserted_times"), report.get("n_appended_times"))
        run.check(got == want, f"{kind} of day {day} reported {report}")
        rows = live_bytes(table)[1]
        run.check(rows == len(self.versions) * CELLS, f"table holds {rows} rows")
        grid, n = read_day(spark, table, day)
        run.check(n == CELLS and same(grid, self.expected[day]),
                  f"{kind}ed day {day} carries its new values")
        if kind == "insert":
            nb = day + 1 if day + 1 in self.expected else day - 1
            grid, n = read_day(spark, table, nb)
            run.check(n == CELLS and same(grid, self.expected[nb]),
                      f"day {nb} untouched by the insert of day {day}")

    # -- figures -------------------------------------------------------------

    def summary(self):
        pts = self.DAYS * CELLS
        nbytes, rows = live_bytes(self.m.table)
        ap, ins = self.latency["append"], self.latency["insert"]
        return {
            "ingest_points_per_s": (pts / mean(self.call_s["ingest.run_etl"]), "points/s"),
            "zarr_publish_cells_per_s": (pts / mean(self.call_s["ingest.export_zarr"]), "cells/s"),
            "append_p50_s": (median(ap), "s"),
            "insert_p50_s": (median(ins), "s"),
            "update_tail_s": (quantile(ap + ins, tail_quantile(len(ap + ins))), "s"),
            "stored_bytes_per_point": (nbytes / rows, "B/point"),
        }

    def timings(self):
        s = self.summary()
        return {
            "ingest.points_per_s": s["ingest_points_per_s"][0],
            "zarr.publish_cells_per_s": s["zarr_publish_cells_per_s"][0],
            "update.append_p50_s": s["append_p50_s"][0],
            "update.insert_p50_s": s["insert_p50_s"][0],
        }

    def layer_extras(self):
        nbytes, rows = live_bytes(self.m.table)
        return {
            "sinks.table.bytes_written_per_user_byte": self.bytes_written / self.user_bytes,
            "sinks.zarr_sink.bytes_per_cell": self.zarr_bytes_per_cell,
            "sinks.table.files_total": float(len(self.m.table.snapshot().entries)),
            "table.stored_bytes_per_point": nbytes / rows,
        }


class GridQueries(Workload):
    """A read-only closed loop over 62 published days (1981-01-01 to
    03-03: January and February, and a tail of single-day appends in
    March, the small files daily updates leave), a Zarr export of the
    first 59 days, and a document corpus and embedding set for the
    corpus ops."""

    name = "grid_queries"
    #: the queries over the table and the Zarr store
    GRID = ["point_series", "region_window", "day_slice", "zarr_window", "anomaly"]
    #: one op of each kind first: the warm-up runs those
    pattern = GRID + ["dedup", "ann"] + GRID[:4] + GRID[:3]
    BASE_DAYS = 59
    setup_reps = 3  # tail days
    warmup_ops = 7
    BOX = 8  # cells a side: 2 x 2 degrees
    WINDOW = 30  # days

    def build(self) -> None:
        raw = self.run.path("base_raw")
        write_days(raw, self.seed, range(self.BASE_DAYS))
        self.m = Chirps(self.run.path("table"))
        self.m.run_etl(self.spark, raw, expected_delta=ONE_DAY)
        self.store = self.run.path("store.zarr")
        export_zarr(self.spark, self.m.table, self.store)
        self.days = self.BASE_DAYS
        self.cube = np.stack([truth(day_grid(self.seed, d)) for d in range(self.days)])
        self.corpus = Corpus(self.spark, self.seed, self.run.path("corpus"))
        self.files_frac: dict[str, list[float]] = {}
        self.chunks_ratio: list[float] = []

    def prepare(self, rep: int) -> None:
        """Append one tail day straight to the table; the Zarr store keeps
        the base days only."""
        day = self.BASE_DAYS + rep
        raw = self.run.path("tail_raw", str(day))
        write_days(raw, self.seed, [day])
        self.m.table.append(
            self.m.transform(self.spark, raw), sort_cols=["latitude", "longitude"]
        )
        self.days = day + 1
        self.cube = np.concatenate([self.cube, truth(day_grid(self.seed, day))[None]])
        self.n_files = len(self.m.table.snapshot().entries)

    # -- queries -------------------------------------------------------------

    def _box(self, days: int):
        i = int(self.rng.integers(0, LATS.size - self.BOX + 1))
        j = int(self.rng.integers(0, LONS_STD.size - self.BOX + 1))
        t = int(self.rng.integers(0, days - self.WINDOW + 1))
        lat = (float(LATS[i]), float(LATS[i + self.BOX - 1]))
        lon = (float(LONS_STD[j]), float(LONS_STD[j + self.BOX - 1]))
        want = np.nanmean(
            self.cube[t:t + self.WINDOW, i:i + self.BOX, j:j + self.BOX], axis=(1, 2)
        )
        return lat, lon, t, want

    def op(self, kind: str) -> None:
        """One query; each builds its frame from the table or store inside
        the timed call, so manifest pruning and planning count with it."""
        spark, table = self.spark, self.m.table
        df = None  # the table frame a query scanned
        if kind == "point_series":
            i = int(self.rng.integers(0, LATS.size))
            j = int(self.rng.integers(0, LONS_STD.size))
            lat, lon = float(LATS[i]), float(LONS_STD[j])

            def point_series():
                df = table.read(
                    spark, where={"latitude": (lat, lat), "longitude": (lon, lon)}
                ).select("time", "precip")
                return df, df.toPandas()

            t, (df, pdf) = self.call(kind, point_series)
            ok = same(pdf.sort_values("time")["precip"].to_numpy("f8", na_value=np.nan),
                      self.cube[:, i, j])
            n = len(pdf)
        elif kind == "region_window":
            lat, lon, t0, want = self._box(self.days)

            def region_window():
                df = table.read(
                    spark, time_lo=day_time(t0), time_hi=day_time(t0 + self.WINDOW - 1),
                    where={"latitude": lat, "longitude": lon},
                )
                return df, df.groupBy("time").agg(F.avg("precip").alias("m")).toPandas()

            t, (df, pdf) = self.call(kind, region_window)
            ok = close(pdf.sort_values("time")["m"].to_numpy("f8"), want)
            n = len(pdf)
        elif kind == "day_slice":
            d = int(self.rng.integers(0, self.days))

            def day_slice():
                df = table.read(spark, time_lo=day_time(d), time_hi=day_time(d)).select(
                    "latitude", "longitude", "precip"
                )
                return df, df.toPandas()

            t, (df, pdf) = self.call(kind, day_slice)
            ok = len(pdf) == CELLS and same(to_grid(pdf), self.cube[d])
            n = len(pdf)
        elif kind == "zarr_window":
            lat, lon, t0, want = self._box(self.BASE_DAYS)
            lo, hi = DAYS_1970 + t0, DAYS_1970 + t0 + self.WINDOW - 1

            def zarr_window():
                z = zarr2.decode_zarr_long(spark, self.store, "precip")
                df = z.filter(
                    F.col("latitude").between(*lat) & F.col("longitude").between(*lon)
                    & F.col("time").between(lo, hi)
                ).groupBy("time").agg(F.avg("value").alias("m"))
                return z, df.toPandas()

            t, (z, pdf) = self.call(kind, zarr_window)
            ok = close(pdf.sort_values("time")["m"].to_numpy("f8"), want)
            if self.run.tracer.active:
                self._count_chunks(z, lat, lon, t0)
        elif kind == "anomaly":  # climatology by month over the whole table

            def anomaly():
                df = table.read(spark)
                an = aggregations.climatology_anomaly(
                    df.withColumn("month", F.month("time")),
                    ["month"], ["latitude", "longitude"], "precip",
                )
                return df, an.agg(F.count("anomaly"), F.sum(F.abs("anomaly"))).collect()[0]

            t, (df, row) = self.call(kind, anomaly)
            ok = self._anomaly_ok(row)
            n = int(row[0])
        elif kind == "dedup":
            t, out = self.call(kind, self.corpus.dedup)
            ok = self.corpus.dedup_ok(out)
        else:  # ann
            t, out = self.call(kind, self.corpus.ann)
            ok = self.corpus.ann_ok(out)
        self.record(kind, t, 1)
        self.run.check(ok, f"{kind} result (op {self.run.attempted})")
        if self.run.tracer.active and df is not None:
            with self.run.tracer.paused():
                self.files_frac.setdefault(kind, []).append(len(df.inputFiles()) / self.n_files)
            self.result_rows.setdefault(kind, []).append(n)

    def _anomaly_ok(self, row) -> bool:
        months = np.array([day_time(d).month for d in range(self.days)])
        count = 0
        total = 0.0
        for mo in np.unique(months):
            vals = self.cube[months == mo]
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)  # all-NULL cells
                clim = np.round(np.nanmean(vals, axis=0), 6)
            an = np.round(vals - clim, 6)
            count += int((~np.isnan(an)).sum())
            total += float(np.nansum(np.abs(an)))
        return int(row[0]) == count and close(row[1], total, rtol=1e-6)

    def _count_chunks(self, z, lat, lon, t0) -> None:
        read = sum(
            1 for p in z.inputFiles() if not os.path.basename(p).startswith(".")
        )
        ci = [int((v - LATS[0]) / STEP) // CHUNKS[1] for v in lat]
        cj = [int((v - LONS_STD[0]) / STEP) // CHUNKS[2] for v in lon]
        ct = [t0 // CHUNKS[0], (t0 + self.WINDOW - 1) // CHUNKS[0]]
        needed = (ci[1] - ci[0] + 1) * (cj[1] - cj[0] + 1) * (ct[1] - ct[0] + 1)
        self.chunks_ratio.append(read / needed)

    def summary(self):
        lat = [t for k in self.GRID for t in self.latency[k]]
        c = self.corpus
        return {
            "query_p50_s": (median(lat), "s"),
            "query_tail_s": (quantile(lat, tail_quantile(len(lat))), "s"),
            "dedup_docs_per_s": (len(c.texts) / median(self.latency["dedup"]), "docs/s"),
            "dedup_recall": (float(np.mean(c.dedup_recall)), "found/planted"),
            "ann_queries_per_s": (c.PROBES / median(self.latency["ann"]), "probes/s"),
            "ann_recall_at_10": (float(np.mean(c.ann_recall)), "vs exact top-10"),
        }

    def timings(self):
        out = {f"query.{k}.p50_s": median(self.latency[k]) for k in self.GRID}
        s = self.summary()
        out["corpus.dedup_docs_per_s"] = s["dedup_docs_per_s"][0]
        out["corpus.ann_queries_per_s"] = s["ann_queries_per_s"][0]
        return out

    def layer_extras(self):
        out = {}
        for kind, fr in self.files_frac.items():
            out[f"sinks.table.files_scanned_frac.{kind}"] = float(np.mean(fr))
        out["sources.zarr2.chunks_read_per_chunk_needed"] = (
            float(np.mean(self.chunks_ratio)) if self.chunks_ratio else 0.0
        )
        out["sinks.table.files_total"] = float(self.n_files)
        nbytes, rows = live_bytes(self.m.table)
        out["table.stored_bytes_per_point"] = nbytes / rows
        c = self.corpus
        out["operators.dedup.minhash_lsh_candidates.candidate_pairs"] = float(np.mean(c.candidates))
        out["operators.dedup.ngram_jaccard.verified_frac"] = float(np.mean(c.verified_frac))
        out["corpus.dedup_recall"] = float(np.mean(c.dedup_recall))
        out["corpus.ann_recall_at_10"] = float(np.mean(c.ann_recall))
        return out
