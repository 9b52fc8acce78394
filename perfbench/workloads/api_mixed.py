"""api_mixed: independent dashboard callers against ``ServingHttpServer``
on localhost, as an open loop. Most of the work is per-request driver
overhead: ``Catalog.load`` on every request, a small planned job and its
collect. Point, region and stats results go through ``QueryCache``;
Zipf-skewed keys make some of them repeat, the metric routes never do."""

from __future__ import annotations

import datetime
import http.client
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import parse_qs, urlencode, urlparse

from ..measure import (OpenLoopSample, apportion, fail_ratio, percentile,
                       stratified_arrivals, tail_percentile,
                       within_limit_ratio,
                       zipf_weights)
from . import ROUTES, Mismatch, Outcome
from .suite import KEYS, compare, duckdb_store

DAYS, STEP = 731, 10.0                  # 731 days × 19 lats × 36 lons
START = datetime.date(2020, 1, 1)         # climate_grid's first day
RATE = 1.25     # requests/s; see perfbench/README.md for the capacity
MIX = {"point": 0.30, "region": 0.15, "stats": 0.15, "temporal": 0.10,
       "trend": 0.10, "anomaly": 0.10, "percentiles": 0.10}
# small enough that a 15-request window repeats a cacheable key
KEYS_PER_ROUTE = {"point": 24, "region": 12, "stats": 12, "temporal": 12,
                  "trend": 12, "anomaly": 12, "percentiles": 12}
ZIPF_S = 1.1
RANGE_DAYS = 30                         # point and stats date ranges
WARMUP_REQUESTS = 40
CHECKED_RESPONSES = 10
TIMEOUT_S = 30.0
PCTS = (10, 25, 50, 75, 90, 95, 99)     # the percentiles route's default
T0 = "1995-01-01"                       # trend_with_confidence's default


def build_store(ctx, path: str):
    """The seeded climate grid written with the spatial layout."""
    from climate_data_pipeline_spark.sources.io import write_parquet
    from climate_data_pipeline_spark.sources.synthetic import climate_grid
    grid = climate_grid(ctx.spark, days=DAYS, lat_step=STEP, lon_step=STEP,
                        seed=ctx.seed)
    write_parquet(grid, path, layout="spatial", entity_cols=KEYS,
                  time_col="ts")


def _grid():
    lats = [-90.0 + STEP * i for i in range(int(180 / STEP) + 1)]
    lons = [-180.0 + STEP * i for i in range(int(360 / STEP))]
    return lats, lons


def _day(rng, last: int = DAYS) -> str:
    return (START + datetime.timedelta(days=rng.randrange(last))).isoformat()


def _span(rng) -> tuple[str, str]:
    """A RANGE_DAYS-long date range, so every range scans as much."""
    a = _day(rng, DAYS - RANGE_DAYS + 1)
    b = datetime.date.fromisoformat(a) + datetime.timedelta(RANGE_DAYS - 1)
    return a, b.isoformat()


# Query shapes within a route: the point route with or without a date
# range, the temporal route's three metrics. Catalogue keys cycle
# through them by position, so every seed sends the same shapes.
VARIANTS = {"point": (False, True),
            "temporal": ("monthly", "seasonal", "annual")}


def _key(route: str, rng, variant=None) -> str:
    """One request URL of ``route`` with seeded coordinates and dates;
    ``variant`` picks its shape from VARIANTS."""
    lats, lons = _grid()
    lat, lon = rng.choice(lats), rng.choice(lons)
    if route in ("point", "temporal", "trend", "anomaly", "percentiles"):
        q = {"lat": lat, "lon": lon, "variable": "temperature"}
        if route == "point" and variant:
            q["start_date"], q["end_date"] = _span(rng)
        elif route == "temporal":
            q["metric"] = variant
        elif route == "anomaly":
            q["time"] = _day(rng)
        base = ("/datasets/grid/point" if route == "point"
                else f"/api/v1/metrics/{route}/grid")
        return f"{base}?{urlencode(q)}"
    i, j = rng.randrange(len(lats) - 2), rng.randrange(len(lons) - 2)
    q = {"west": lons[j], "south": lats[i], "east": lons[j + 2],
         "north": lats[i + 2], "variable": "temperature"}
    if route == "region":
        q["time"] = _day(rng)
    else:
        q["start_date"], q["end_date"] = _span(rng)
    return f"/datasets/grid/{route}?{urlencode(q)}"


def key_catalogue(seed: int) -> tuple[dict, list, dict]:
    """The timed catalogue (route → distinct URLs in Zipf rank order),
    one warm-up URL per query shape and a warm-up catalogue, all
    disjoint and drawn from ``seed``."""
    rng = random.Random(f"{seed}-keys")
    seen: set[str] = set()

    def fresh(route, i):
        shapes = VARIANTS.get(route, (None,))
        while True:
            u = _key(route, rng, shapes[i % len(shapes)])
            if u not in seen:
                seen.add(u)
                return u

    shapes = [fresh(r, i) for r in MIX
              for i in range(len(VARIANTS.get(r, (None,))))]
    timed = {r: [fresh(r, i) for i in range(n)]
             for r, n in KEYS_PER_ROUTE.items()}
    warm = {r: [fresh(r, i) for i in range(n // 3)]
            for r, n in KEYS_PER_ROUTE.items()}
    return timed, shapes, warm


def draw_urls(rng, catalogue: dict, n: int) -> list[str]:
    """``n`` request URLs in seeded order. Route counts follow MIX and
    each key's count follows its Zipf rank, both exactly (largest
    remainder), so every seed repeats keys, and so hits the cache, the
    same number of times; the seed picks the keys and the order."""
    urls = []
    for route, k in apportion(n, MIX).items():
        keys = catalogue[route]
        ranks = apportion(k, dict(enumerate(zipf_weights(len(keys),
                                                         ZIPF_S))))
        urls += [keys[i] for i, c in ranks.items() for _ in range(c)]
    rng.shuffle(urls)
    return urls


class ApiMixed:
    def __init__(self, ctx):
        self.ctx = ctx
        self.store = os.path.join(ctx.workdir, "store.parquet")
        self.loads, self.cached = [], []
        self.bodies: dict[str, dict] = {}
        self._lock = threading.Lock()

    # --- set-up ---------------------------------------------------------

    def setup(self):
        from climate_data_pipeline_spark.http_server import ServingHttpServer
        from climate_data_pipeline_spark.sources.catalog import Catalog
        build_store(self.ctx, self.store)
        catalog = Catalog(self.ctx.spark)
        catalog.register("grid", self.store)
        self.server = ServingHttpServer(catalog)
        self._wrap(catalog, self.server)
        self.port = self.server.start()
        self.timed, self.shapes, self.warm = key_catalogue(self.ctx.seed)

    def _wrap(self, catalog, server):
        """Spans and timings around the layer calls, installed on the
        instances so the package itself is untouched."""
        ctx = self.ctx
        load, handle, cached = catalog.load, server.handle, server.api._cached

        def timed_load(name):
            with ctx.tracer.span("sources.catalog_load"):
                t = time.perf_counter()
                df = load(name)
                if ctx.tracer.enabled:
                    with self._lock:
                        self.loads.append(time.perf_counter() - t)
            return df

        def traced_handle(method, path, query, body):
            sid = query.pop("_sid", [None])[0]
            with ctx.tracer.span("http_server.handle",
                                 parent=int(sid) if sid else None):
                return handle(method, path, query, body)

        def timed_cached(key, build):
            missed = []

            def build_and_flag():
                missed.append(True)
                return build()

            with ctx.tracer.span("serving.cached"):
                t = time.perf_counter()
                value = cached(key, build_and_flag)
                if ctx.tracer.enabled:
                    with self._lock:
                        self.cached.append((not missed,
                                            time.perf_counter() - t))
            return value

        catalog.load = timed_load
        server.handle = traced_handle
        server.api._cached = timed_cached

    def close(self):
        self.server.stop()

    def warmup(self):
        """Every query shape once, then WARMUP_REQUESTS over the warm-up
        catalogue from a closed loop of nproc clients, so that the JIT
        and Catalyst caches are warm when the timed window starts."""
        urls = iter(self.shapes + draw_urls(
            random.Random(f"{self.ctx.seed}-warmup"), self.warm,
            WARMUP_REQUESTS))
        lock = threading.Lock()
        failed = []

        def client():
            while True:
                with lock:
                    u = next(urls, None)
                if u is None:
                    return
                status, _ = self._get(u)
                if status != 200:
                    failed.append(u)

        with ThreadPoolExecutor(max_workers=self.ctx.nproc) as pool:
            for f in [pool.submit(client) for _ in range(self.ctx.nproc)]:
                f.result()
        if failed:
            raise RuntimeError(f"warm-up requests failed: {failed[:3]}")

    # --- load generator -------------------------------------------------

    def _get(self, url: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=TIMEOUT_S)
        try:
            conn.request("GET", url)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _send(self, i, due, url, samples, keep):
        with self.ctx.tracer.span("loadgen.request", op=f"req{i}") as sid:
            if sid is not None:
                url = f"{url}&_sid={sid}"
            sent = time.perf_counter()
            try:
                status, body = self._get(url)
            except OSError:
                status, body = 0, b""
            done = time.perf_counter()
        samples[i] = OpenLoopSample(due, sent, done, status == 200)
        if status == 200 and i in keep:
            self.bodies[url.split("&_sid=")[0]] = json.loads(body)

    def _open_loop(self, dues, urls, keep) -> tuple[list, float]:
        """Send ``urls[i]`` at offset ``dues[i]`` from at most nproc
        threads; returns the samples and the clock's zero."""
        samples = [None] * len(dues)
        with ThreadPoolExecutor(max_workers=self.ctx.nproc) as pool:
            t0 = time.perf_counter() + 0.05
            futures = []
            for i, (d, u) in enumerate(zip(dues, urls)):
                due = t0 + d
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                futures.append(pool.submit(self._send, i, due, u,
                                           samples, keep))
            for f in futures:
                f.result()
        return samples, t0

    def measure(self, seconds: float) -> Outcome:
        """Open loop: seeded arrivals at RATE, one per slot, at most nproc
        requests in flight from one process, each timed from its due
        time. The result cache starts empty of timed keys."""
        for prefix in ("point:", "region:", "stats:"):
            self.server.api.cache.clear_pattern(prefix)
        self.loads.clear()
        self.cached.clear()
        handle0 = self._server_handle_totals()
        rng = random.Random(f"{self.ctx.seed}-schedule")
        dues = stratified_arrivals(rng, round(RATE * seconds), seconds)
        urls = draw_urls(rng, self.timed, len(dues))
        keep = set(rng.sample(range(len(dues)),
                              min(CHECKED_RESPONSES, len(dues))))
        samples, t0 = self._open_loop(dues, urls, keep)
        # the window, or longer when replies drain past its end
        wall = max(seconds, max(s.done for s in samples) - t0)
        ok = sum(s.ok for s in samples)
        handle1 = self._server_handle_totals()
        return Outcome(
            latencies_s=[s.latency for s in samples], items=ok,
            wall_s=wall, attempted=len(samples),
            failed=len(samples) - ok,
            extra={"samples": samples,
                   "labels": [_route_of(urlparse(u).path) for u in urls],
                   "handle": {k: (handle1[k][0] - handle0.get(k, (0, 0))[0],
                                  handle1[k][1] - handle0.get(k, (0, 0))[1])
                              for k in handle1}})

    def _server_handle_totals(self) -> dict:
        """Route → (latency sum s, count) from the server's /metrics."""
        _, body = self._get("/metrics")
        out: dict[str, list] = {}
        for line in body.decode().splitlines():
            if not line.startswith("arco_request_latency_seconds_"):
                continue
            name, value = line.rsplit(" ", 1)
            endpoint = name.split('endpoint="', 1)[1].split('"', 1)[0]
            route = _route_of(endpoint)
            if route is None:
                continue
            acc = out.setdefault(route, [0.0, 0])
            if name.startswith("arco_request_latency_seconds_sum"):
                acc[0] += float(value)
            else:
                acc[1] += int(value)
        return {k: tuple(v) for k, v in out.items()}

    # --- checks and metrics ---------------------------------------------

    def verify(self):
        """Each kept response body against DuckDB over the same store."""
        if not self.bodies:
            raise Mismatch("no response was kept for checking")
        con = duckdb_store(self.store)
        for url, body in self.bodies.items():
            _check_response(con, url, body)

    def named_metrics(self, out: Outcome) -> dict:
        lat = out.latencies_s
        ok = [s.ok for s in out.extra["samples"]]
        return {"api_p50_ms": percentile(lat, 50) * 1e3,
                "api_p90_ms": (None if tail_percentile(lat, 90) is None
                               else tail_percentile(lat, 90) * 1e3),
                "api_requests": len(lat),
                "api_within_2s_ratio": within_limit_ratio(lat, ok),
                "fail_ratio": fail_ratio(out.attempted, out.failed),
                "offered_rate_per_s": RATE}

    def layer_metrics(self, out: Outcome) -> dict:
        samples = out.extra["samples"]
        handle = out.extra["handle"]
        m = {}
        if self.loads:
            m["sources.catalog_load_ms"] = 1e3 * sum(self.loads) / len(
                self.loads)
        if self.cached:
            hits = [t for h, t in self.cached if h]
            misses = [t for h, t in self.cached if not h]
            m["serving.cache_hit_ratio"] = len(hits) / len(self.cached)
            m["serving.hit_ms"] = 1e3 * sum(hits) / len(hits) if hits else 0.0
            m["serving.miss_ms"] = (1e3 * sum(misses) / len(misses)
                                    if misses else 0.0)
        for route, (total, n) in handle.items():
            if n:
                m[f"http_server.handle_ms.{route}"] = 1e3 * total / n
        h_total = sum(t for t, _ in handle.values())
        h_n = sum(n for _, n in handle.values())
        client = [s.done - s.sent for s in samples]
        m["http_server.wait_ms"] = 1e3 * (sum(client) / len(client)
                                          - (h_total / h_n if h_n else 0.0))
        m["loadgen.late_ms"] = 1e3 * sum(s.late for s in samples) / len(
            samples)
        m["loadgen.within_2s_ratio"] = within_limit_ratio(
            out.latencies_s, [s.ok for s in samples])
        return m


def _route_of(endpoint: str) -> str | None:
    parts = endpoint.split("/")
    if endpoint.startswith("/datasets/") and len(parts) == 4:
        return parts[3] if parts[3] in ROUTES else None
    if endpoint.startswith("/api/v1/metrics/") and len(parts) == 6:
        return parts[4] if parts[4] in ROUTES else None
    return None


def _check_response(con, url: str, body: dict) -> None:
    """Recompute one response independently and compare."""
    parsed = urlparse(url)
    route = _route_of(parsed.path)
    q = {k: v[0] for k, v in parse_qs(parsed.query).items()}

    def rows(sql, *params):
        return con.execute(sql, list(params)).fetchall()

    if route in ("point", "temporal", "trend", "anomaly", "percentiles"):
        lat, lon = float(q["lat"]), float(q["lon"])
        cell = "lat = ? AND lon = ?"
    if route == "point":
        sql = f"SELECT ts, temperature FROM store WHERE {cell}"
        params = [lat, lon]
        if "start_date" in q:
            sql += " AND ts::DATE BETWEEN ? AND ?"
            params += [q["start_date"], q["end_date"]]
        want = rows(sql + " ORDER BY ts", *params)
        got = body["data"]["values"]
        if got != [v for _, v in want]:
            raise Mismatch(f"{url}: point series differs")
    elif route in ("region", "stats"):
        box = ("lat BETWEEN ? AND ? AND lon BETWEEN ? AND ?",
               [float(q["south"]), float(q["north"]), float(q["west"]),
                float(q["east"])])
        if route == "region":
            want = rows(f"SELECT lat, lon, temperature FROM store WHERE "
                        f"{box[0]} AND ts::DATE = ?", *box[1], q["time"])
            g = body["grid"]
            got = [(la, lo, v) for la, row in zip(g["lats"], g["values"])
                   for lo, v in zip(g["lons"], row)]
            if sorted(got) != sorted(want):
                raise Mismatch(f"{url}: region grid differs")
        else:
            (mean, std, lo, hi, n, p50), = rows(
                f"SELECT avg(temperature), stddev_samp(temperature), "
                f"min(temperature), max(temperature), count(*), "
                f"quantile_cont(temperature, 0.5) FROM store WHERE {box[0]} "
                f"AND ts::DATE BETWEEN ? AND ?", *box[1], q["start_date"],
                q["end_date"])
            s = body["statistics"]
            compare(url, [(0, 0, k, s[k]) for k in
                          ("mean", "std", "min", "max", "p50")] +
                    [(0, 0, "n", body["n"])],
                    [(0, 0, "mean", mean), (0, 0, "std", std),
                     (0, 0, "min", lo), (0, 0, "max", hi),
                     (0, 0, "p50", p50), (0, 0, "n", n)])
    elif route == "temporal":
        key = {"monthly": "month(ts)",
               "seasonal": "floor((month(ts) % 12) / 3)",
               "annual": "year(ts)"}[q["metric"]]
        want = rows(f"SELECT {key} AS k, avg(temperature) FROM store "
                    f"WHERE {cell} GROUP BY k ORDER BY k", lat, lon)
        got = [v for v in body["values"]["values"] if v is not None]
        compare(url, [(0, 0, i, v) for i, v in enumerate(got)],
                [(0, 0, i, v) for i, (_, v) in enumerate(want)])
    elif route == "trend":
        (slope,), = rows(
            f"SELECT regr_slope(temperature, (epoch(ts) - epoch("
            f"TIMESTAMP '{T0}')) / (365.25 * 86400.0)) FROM store "
            f"WHERE {cell}", lat, lon)
        compare(url, [(0, 0, 0, body["trend"]["slope"])],
                [(0, 0, 0, slope)], rel=1e-6)
    elif route == "anomaly":
        month = int(q["time"].split("-")[1])
        (clim,), = rows(f"SELECT avg(temperature) FROM store WHERE {cell} "
                        f"AND month(ts) = ?", lat, lon, month)
        (obs,), = rows(f"SELECT avg(temperature) FROM store WHERE {cell} "
                       f"AND ts::DATE = ?", lat, lon, q["time"])
        compare(url, [(0, 0, 0, body["anomaly"]["value"])],
                [(0, 0, 0, obs - clim)])
    elif route == "percentiles":
        lst = ", ".join(str(p / 100.0) for p in PCTS)
        want = rows(f"SELECT month(ts), quantile_cont(temperature, [{lst}]) "
                    f"FROM store WHERE {cell} GROUP BY 1", lat, lon)
        vals = body["values"]
        got = [(0, m, p, vals[f"p{p}"][m - 1]) for m, _ in want
               for p in PCTS]
        compare(url, [(0, m, p, v) for _, m, p, v in got],
                [(0, m, p, qs[i]) for m, qs in want
                 for i, p in enumerate(PCTS)])
    else:
        raise Mismatch(f"{url}: no reference for this route")
