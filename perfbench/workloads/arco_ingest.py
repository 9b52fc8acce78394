"""arco_ingest: repeated NetCDF-4 → Parquet conversion jobs, the
reference's convert-to-ARCO job, each followed by the metric suite,
from the reference's pre-computed-metrics job, over a band of the store
it just wrote. The conversion's work is in ``sources``: chunk decode in
Python workers, Arrow back to the JVM, the range-partition shuffle and
the Parquet encode. The suite's is in ``plans`` and ``operators`` and in
Spark's shuffle and sort; it scans the store ``write_parquet`` laid out,
so a layout change that speeds ingest but slows scans shows in the same
job."""

from __future__ import annotations

import itertools
import os
import random
import shutil
import time

import numpy as np

from ..measure import fail_ratio
from . import SUITE, Mismatch, Outcome, batch_loop
from .suite import check_suite, run_suite, suite_layer_metrics

DAYS, NLAT, NLON = 183, 73, 144          # 2.5° grid, half a year daily
CHUNKS = (50, 50, 50)
VARIABLES = ("temperature", "precipitation")
CELLS = DAYS * NLAT * NLON
BAND = 10.0                 # the suite reads latitudes -10°..10°
BAND_ROWS = DAYS * (int(2 * BAND / 2.5) + 1) * NLON
SAMPLE_CELLS = 6            # cells whose suite results are checked


def make_grid(seed: int) -> tuple[dict, dict]:
    """Seeded float32 fields on the (time, lat, lon) grid: a latitude
    gradient plus a seasonal cycle plus noise, and exponential rain."""
    rng = np.random.default_rng(seed)
    lat = np.linspace(-90.0, 90.0, NLAT)
    lon = np.arange(NLON) * 2.5 - 180.0
    t = np.arange(DAYS, dtype="f8")
    base = (288.0 - 40.0 * np.abs(lat)[None, :, None] / 90.0
            + 10.0 * np.sin(2 * np.pi * (t - 80) / 365.0)[:, None, None])
    temp = (base + rng.normal(0.0, 2.0, (DAYS, NLAT, NLON))).astype("f4")
    rain = rng.exponential(0.001, (DAYS, NLAT, NLON)).astype("f4")
    dims = {"time": (t, {"units": "days since 2020-01-01"}),
            "lat": lat, "lon": lon}
    return dims, {"temperature": temp, "precipitation": rain}


class ArcoIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.workdir, "grid.nc")
        self.job_ids = itertools.count()     # unique across windows
        self.suite_out = os.path.join(ctx.workdir, "metrics")
        self.last_out = None
        self.bytes_stored = []
        self.files_written = []
        self.convert_s = []
        self.suite_s = []

    def setup(self):
        from climate_data_pipeline_spark.sources.hdf5 import write_hdf5
        self.dims, self.arrays = make_grid(self.ctx.seed)
        write_hdf5(self.src, self.dims,
                   {n: (["time", "lat", "lon"], a, {})
                    for n, a in self.arrays.items()},
                   chunks={n: CHUNKS for n in self.arrays}, compress=True)

    def _convert(self, _attempt: int = 0) -> int:
        from climate_data_pipeline_spark.sources.hdf5 import \
            read_hdf5_long_distributed
        from climate_data_pipeline_spark.sources.io import (load_parquet,
                                                            parquet_info,
                                                            write_parquet)
        from pyspark.sql import functions as F
        ctx, op = self.ctx, f"job{next(self.job_ids)}"
        t0 = time.perf_counter()
        out = os.path.join(ctx.workdir, f"{op}.parquet")
        with ctx.step("sources.hdf5_open", op):
            df = read_hdf5_long_distributed(ctx.spark, self.src)
        with ctx.step("sources.write_parquet", op):
            write_parquet(df, out, layout="timeseries",
                          entity_cols=["lat", "lon"], time_col="time")
        with ctx.step("sources.parquet_info", op):
            info = parquet_info(ctx.spark, out)
        if self.last_out is not None:
            shutil.rmtree(self.last_out)
        self.last_out = out
        if info["num_rows"] != CELLS:
            raise Mismatch(f"parquet_info counts {info['num_rows']} rows, "
                           f"the grid has {CELLS} cells")
        self.bytes_stored.append(info["bytes_stored"])
        self.files_written.append(info["num_files"])
        t1 = time.perf_counter()
        band = load_parquet(ctx.spark, out).where(
            F.col("lat").between(-BAND, BAND))
        run_suite(ctx, band, "time", self.suite_out, op)
        self.convert_s.append(t1 - t0)
        self.suite_s.append(time.perf_counter() - t1)
        return CELLS

    def close(self):
        pass

    def warmup(self):
        # the first job starts the Python workers and compiles the
        # suite's plans; later jobs still speed up for a while as the
        # JIT warms, which the median of the timed jobs absorbs
        self._convert()

    def measure(self, seconds: float) -> Outcome:
        for acc in (self.bytes_stored, self.files_written, self.convert_s,
                    self.suite_s):
            acc.clear()
        return batch_loop(self._convert, seconds)

    def verify(self):
        """Every stored cell is bit-equal to the source array at its
        (time, lat, lon), and every grid cell is stored exactly once.
        The last suite's results match DuckDB over the same store at
        cells of the band chosen by the seed."""
        self._verify_store()
        band = [(float(la), float(lo)) for la in self.dims["lat"]
                if abs(la) <= BAND for lo in self.dims["lon"]]
        cells = random.Random(f"{self.ctx.seed}-cells").sample(
            band, SAMPLE_CELLS)
        check_suite(self.last_out, "time", self.suite_out, cells)

    def _verify_store(self):
        import pyarrow.parquet as pq
        t = pq.read_table(self.last_out).to_pandas()
        if len(t) != CELLS:
            raise Mismatch(f"store holds {len(t)} rows, expected {CELLS}")
        t0 = np.datetime64("2020-01-01", "ns")
        ti = ((t["time"].to_numpy("datetime64[ns]") - t0)
              // np.timedelta64(1, "D")).astype(int)
        lat, lon = self.dims["lat"], self.dims["lon"]
        li = np.searchsorted(lat, t["lat"].to_numpy())
        lo = np.searchsorted(lon, t["lon"].to_numpy())
        if (np.any(ti < 0) or np.any(ti >= DAYS) or np.any(li >= NLAT)
                or np.any(lo >= NLON)
                or not np.array_equal(lat[li], t["lat"].to_numpy())
                or not np.array_equal(lon[lo], t["lon"].to_numpy())):
            raise Mismatch("stored coordinates are off the source grid")
        flat = (ti * NLAT + li) * NLON + lo
        if len(np.unique(flat)) != CELLS:
            raise Mismatch("some grid cells are stored twice or not at all")
        for name, arr in self.arrays.items():
            got = t[name].to_numpy().astype("f4").view("u4")
            want = arr.reshape(-1)[flat].view("u4")
            bad = int(np.count_nonzero(got != want))
            if bad:
                raise Mismatch(f"{bad} {name} cells differ from the source")

    def named_metrics(self, out: Outcome) -> dict:
        return {
            "ingest_cells_per_s": (CELLS * len(self.convert_s)
                                   / sum(self.convert_s)
                                   if self.convert_s else None),
            "suite_cells_per_s": (BAND_ROWS * len(SUITE) * len(self.suite_s)
                                  / sum(self.suite_s)
                                  if self.suite_s else None),
            "store_bytes_per_cell": (float(np.median(self.bytes_stored))
                                     / CELLS if self.bytes_stored else None),
            "fail_ratio": fail_ratio(out.attempted, out.failed),
            "jobs": out.attempted,
        }

    def layer_metrics(self, out: Outcome) -> dict:
        tr = self.ctx.tracer
        return {
            **suite_layer_metrics(tr),
            "sources.hdf5_open_s": tr.total("sources.hdf5_open"),
            "sources.write_parquet_s": tr.total("sources.write_parquet"),
            "sources.parquet_info_s": tr.total("sources.parquet_info"),
            "sources.bytes_stored": float(np.median(self.bytes_stored))
            if self.bytes_stored else 0.0,
            "sources.files_written": float(np.median(self.files_written))
            if self.files_written else 0.0,
        }
