"""Seeded inputs for every perfbench workload.

Everything a run feeds the system under test comes from here: the events
table the view lattice is built from, the synthetic sensor positions, the
HTTP request streams, the micro-batch backlog and the registry tables. The
same seed always gives the same inputs; nothing here touches Spark.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

WORKLOADS = ("snapshot_map", "history_series", "ingest_live", "ingest_race",
             "registry_sample")
#: the two drains of the ingest backlog: `ingest_live` retains every version
#: it commits, so no reader loses the version it scans; `ingest_race` keeps
#: the store's default retention of one version, so such reads fail
INGEST = ("ingest_live", "ingest_race")

#: the serving month: every event, snapshot instant and history range is in it
MONTH_START_MS = 1704067200000  # 2024-01-01T00:00Z
MONTH_END_MS = 1706745600000  # 2024-02-01T00:00Z
#: pinned server clock for history requests (interval mode counts back from it)
NOW_MS = MONTH_END_MS

SERVING_METRICS = ("no2", "pm10")
AGGREGATES = ("avg", "sum", "count")
RESOLUTIONS = ("min", "hour", "day", "month")
INTERVALS = ("5min", "1hour", "1day", "1week", "1month", "all")
PRECISIONS = (6, 7)

#: the reference load test's viewport (sim_api_load.sh): N, W, S, E
ANTWERP_BBOX = (51.311646, 4.306641, 51.168823, 4.504395)

#: input sizes per workload (events, users, batches); small on purpose so
#: one run fits the benchmark's time budget on a 4-core box
SERVING_EVENTS = 6000
SERVING_USERS = 400
INGEST_BOOTSTRAP_EVENTS = 2000
INGEST_BATCH_ROWS = 1000
INGEST_USERS = 400
#: days of the month covered by the bootstrap version of the ingest store
INGEST_BOOTSTRAP_DAYS = 10

#: one representative registry entry per operators/ and streaming/ module;
#: (module, entry). A module that an entry of another module already runs
#: still gets its own row so its time is reported under its own name.
REGISTRY_SAMPLE = (
    ("operators.anomaly", "metric_correlation"),
    ("operators.asof", "asof_hourly_stats"),
    ("operators.centroids", "label_centroids"),
    ("operators.clustering", "kmeans_sizes"),
    ("operators.contamination", "doc_repetition"),
    ("operators.cooccurrence", "item_lift"),
    ("operators.corpus", "token_mix_by_tier"),
    ("operators.dedup", "dedup_exact"),
    ("operators.dsir", "dsir_select"),
    ("operators.expectations", "expect_events"),
    ("operators.funnel", "retention_weekly"),
    ("operators.index_ledger", "gate_verdict_log"),
    ("operators.mobility", "od_flows"),
    ("operators.multimodal", "multimodal_meta"),
    ("operators.normalize", "zscore_per_metric"),
    ("operators.packing", "pack_docs"),
    ("operators.postings", "term_postings"),
    ("operators.quality_rules", "blocklist_filter"),
    ("operators.rangejoin", "range_join_sessions"),
    ("operators.sampling", "stratified_sample"),
    ("operators.segments", "segment_dedup"),
    ("operators.semdedup", "knn_graph"),
    ("operators.similarity", "ann_topk_brute"),
    ("operators.skew", "distinct_users_daily_salted"),
    ("operators.spatial", "nearest_poi"),
    ("operators.text", "text_stats"),
    ("operators.timeseries", "metric_histogram"),
    ("operators.udtfs", "chunk_documents"),
    ("streaming.alerts", "metric_alerts"),
    ("streaming.corpus_gate", "corpus_gate"),
    ("streaming.dedup", "ingest_dedup"),
    ("streaming.index_update", "dedup_index_append"),
    ("streaming.joins", "click_attribution"),
    ("streaming.pipeline", "retention_sweep"),
    ("streaming.sessions", "sessionize"),
    ("streaming.windowed", "trending_items"),
)

REGISTRY_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGISTRY_EVENTS = 1000
REGISTRY_USERS = 100
REGISTRY_DOCS = 500
REGISTRY_EMBEDDINGS = 500
EMBEDDING_DIM = 64
EMBEDDING_CLUSTERS = 4


def _rng(seed: int, stream: str) -> random.Random:
    """Independent, reproducible stream per (seed, purpose)."""
    return random.Random(f"{stream}:{seed}")


def _np_rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng(_rng(seed, stream).getrandbits(64))


# ---------------------------------------------------------------------------
# synthetic sensor positions: user_id -> (lat, lon)
# ---------------------------------------------------------------------------


#: cities the synthetic sensors sit in, and the extent (degrees) of the
#: square-ish patch around each city centre
N_CITIES = 8
LAT_SPREAD = 0.3
LON_SPREAD = 0.45


@dataclass(frozen=True)
class GeoSpec:
    """Places user `u` near city `u % len(lats)`, jittered by two
    multiplicative hashes of `u`. The same arithmetic is written once for
    Spark (`lat_col`/`lon_col`) and once for DuckDB (`lat_sql`/`lon_sql`)."""

    lats: tuple[float, ...]
    lons: tuple[float, ...]

    def to_json(self) -> str:
        return json.dumps({"lats": self.lats, "lons": self.lons})

    @classmethod
    def from_json(cls, text: str) -> "GeoSpec":
        d = json.loads(text)
        return cls(tuple(d["lats"]), tuple(d["lons"]))

    def _jitter_sql(self, mult: int, spread: float) -> str:
        return f"((user_id * {mult}) % 1000) / 1000.0 * {spread} - {spread / 2}"

    def lat_sql(self) -> str:
        arr = ", ".join(repr(x) for x in self.lats)
        return (f"([{arr}][CAST(user_id % {len(self.lats)} AS INTEGER) + 1] + "
                f"{self._jitter_sql(7919, LAT_SPREAD)})")

    def lon_sql(self) -> str:
        arr = ", ".join(repr(x) for x in self.lons)
        return (f"([{arr}][CAST(user_id % {len(self.lons)} AS INTEGER) + 1] + "
                f"{self._jitter_sql(104729, LON_SPREAD)})")

    def _col(self, centers, mult: int, spread: float):
        from pyspark.sql import functions as F

        u = F.col("user_id")
        center = F.element_at(F.array(*[F.lit(x) for x in centers]),
                              (u % len(centers)).cast("int") + 1)
        return center + ((u * mult) % 1000) / 1000.0 * spread - spread / 2

    def lat_col(self):
        return self._col(self.lats, 7919, LAT_SPREAD)

    def lon_col(self):
        return self._col(self.lons, 104729, LON_SPREAD)


def geo_spec(seed: int) -> GeoSpec:
    """City 0 is Antwerp (the reference viewport); the rest are seeded
    European cities-to-be."""
    r = _rng(seed, "geo")
    lats = [51.24] + [round(r.uniform(38.0, 59.0), 4) for _ in range(N_CITIES - 1)]
    lons = [4.40] + [round(r.uniform(-8.0, 28.0), 4) for _ in range(N_CITIES - 1)]
    return GeoSpec(tuple(lats), tuple(lons))


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------


def make_events(seed: int, n_rows: int, n_users: int, metrics, start_ms: int,
                end_ms: int, first_id: int = 0, stream: str = "events") -> pa.Table:
    """Events table with the columns of the engine's `events` test table,
    in event-time order."""
    g = _np_rng(seed, stream)
    ts_us = np.sort(g.integers(start_ms * 1000, end_ms * 1000, n_rows))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n_rows, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": g.integers(0, n_users, n_rows).astype(np.int64),
        "event_type": pa.array(g.choice(list(metrics), n_rows)),
        "value": np.round(g.gamma(2.0, 10.0, n_rows), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_rows)]),
    })


def ingest_backlog(seed: int, n_batches: int) -> tuple[pa.Table, list[pa.Table]]:
    """(bootstrap events, micro-batch files): the bootstrap covers the first
    INGEST_BOOTSTRAP_DAYS of the month, the batches split the rest into
    consecutive event-time slices, one file per trigger."""
    split = MONTH_START_MS + INGEST_BOOTSTRAP_DAYS * 86_400_000
    boot = make_events(seed, INGEST_BOOTSTRAP_EVENTS, INGEST_USERS,
                       SERVING_METRICS, MONTH_START_MS, split, stream="boot")
    span = (MONTH_END_MS - split) // n_batches
    batches = []
    next_id = INGEST_BOOTSTRAP_EVENTS
    for b in range(n_batches):
        lo = split + b * span
        batches.append(make_events(seed, INGEST_BATCH_ROWS, INGEST_USERS,
                                   SERVING_METRICS, lo, lo + span,
                                   first_id=next_id, stream=f"batch{b}"))
        next_id += INGEST_BATCH_ROWS
    return boot, batches


_WORDS = (
    "the a of and to in data row table value part hash key agg scan slow fast "
    "order join query window spark batch column filter line customer small "
    "large stream index cache merge sort group count sum average model token "
    "text corpus document quality score vector cluster center sample split"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def make_documents(seed: int) -> pa.Table:
    """Documents with a share of exact and near duplicates, so the dedup and
    contamination entries find something."""
    r = _rng(seed, "documents")
    texts = []
    for i in range(REGISTRY_DOCS):
        if i >= 20 and r.random() < 0.08:
            texts.append(texts[r.randrange(i)])
        elif i >= 20 and r.random() < 0.08:
            words = texts[r.randrange(i)].split()
            words[r.randrange(len(words))] = r.choice(_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(_WORDS) for _ in range(r.randint(15, 90))))
    return pa.table({
        "doc_id": np.arange(REGISTRY_DOCS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array([r.choice(_LANGS) for _ in texts]),
        "source": pa.array([f"src{r.randrange(18)}" for _ in texts]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_embeddings(seed: int) -> pa.Table:
    n, dim = REGISTRY_EMBEDDINGS, EMBEDDING_DIM
    g = _np_rng(seed, "embeddings")
    centers = g.normal(0.0, 1.0, (EMBEDDING_CLUSTERS, dim))
    labels = g.integers(0, EMBEDDING_CLUSTERS, n)
    vecs = (centers[labels] + g.normal(0.0, 0.35, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# ---------------------------------------------------------------------------
# HTTP request streams
# ---------------------------------------------------------------------------


#: viewport scales: (name, share of the template pool, height°, width°).
#: The three scales follow the benchmark's specification; the city size is
#: the reference viewport. The shares, the pool size, the Zipf exponent and
#: the resolution weights below are not taken from measured traffic (none
#: is published for EXPLORA); they are stated choices.
VIEWPORT_SCALES = (
    ("city", 0.5, ANTWERP_BBOX[0] - ANTWERP_BBOX[2], ANTWERP_BBOX[3] - ANTWERP_BBOX[1]),
    ("region", 0.3, 2.0, 3.0),
    ("continent", 0.2, 25.0, 40.0),
)
SNAPSHOT_POOL = 64
#: geohash grid each viewport scale is aligned to (see snapshot_pool)
SNAP_PRECISION = {"city": 5, "region": 3, "continent": 2}
#: min/hour instants are mostly empty at this data density; the coarser
#: views are weighted up so that most snapshots return a map (a choice
#: for non-empty answers, not a traffic measurement)
SNAPSHOT_RES_WEIGHTS = (0.1, 0.2, 0.35, 0.35)
ZIPF_S = 1.1


def snapshot_pool(seed: int, spec: GeoSpec) -> list[dict]:
    """Request templates, one per popularity rank: a viewport plus a metric,
    aggregate, resolution, precision and instant.

    What sets a request's cost — its scale, precision and resolution — is
    fixed per rank, identical for every seed, so runs on different seeds
    see the same cost mix. The seed picks where each viewport lies, its
    instant, metric and aggregate."""
    shape = random.Random("snapshot-shape")
    scales = [v for v in VIEWPORT_SCALES for _ in range(round(SNAPSHOT_POOL * v[1]))]
    shape.shuffle(scales)  # popularity rank is independent of scale
    r = _rng(seed, "snapshot-pool")
    pool = []
    for name, _share, h, w in scales:
        c = r.randrange(len(spec.lats))
        lat, lon = spec.lats[c], spec.lons[c]
        if name == "continent":
            lat, lon = r.uniform(40.0, 55.0), r.uniform(0.0, 20.0)
        # put the corner at a fixed offset inside the grid of the coarsest
        # geohash cell that fits in the viewport (any prefix its cover can
        # fold into is at least that fine), so the cover and its compressed
        # prefix set have the same size on every seed
        lat_step, lon_step = _cell_size(SNAP_PRECISION[name])
        off_lat, off_lon = shape.random() * lat_step, shape.random() * lon_step
        south = round((lat - h / 2 + 90.0 - off_lat) / lat_step) * lat_step + off_lat - 90.0
        west = round((lon - w / 2 + 180.0 - off_lon) / lon_step) * lon_step + off_lon - 180.0
        bbox = (round(south + h, 6), round(west, 6), round(south, 6), round(west + w, 6))
        pool.append({
            "scale": name,
            "metric": r.choice(SERVING_METRICS),
            "aggregate": r.choice(AGGREGATES),
            "params": {
                "ts": str(r.randrange(MONTH_START_MS, MONTH_END_MS)),
                "bbox": ",".join(str(x) for x in bbox),
                "res": shape.choices(RESOLUTIONS, weights=SNAPSHOT_RES_WEIGHTS)[0],
                "gh_precision": str(shape.choice(PRECISIONS)),
            },
        })
    return pool


def _cell_size(precision: int) -> tuple[float, float]:
    """(lat, lon) extent in degrees of a geohash cell."""
    bits = 5 * precision
    return 180.0 / (1 << (bits // 2)), 360.0 / (1 << ((bits + 1) // 2))


def snapshot_requests(seed: int, spec: GeoSpec, n: int) -> list[dict]:
    """Zipf(ZIPF_S)-popular picks from the template pool, so some requests
    repeat an earlier one exactly. The rank sequence is the same for every
    seed; the templates behind the ranks are not."""
    pool = snapshot_pool(seed, spec)
    weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(len(pool))]
    picks = random.Random("snapshot-ranks").choices(range(len(pool)), weights=weights, k=n)
    return [dict(pool[i], shape="snapshot") for i in picks]


HISTORY_SPANS_MS = (3_600_000, 6 * 3_600_000, 86_400_000, 7 * 86_400_000,
                    MONTH_END_MS - MONTH_START_MS)
#: long ranges at fine grain are what make history answers large
HISTORY_SPAN_WEIGHTS = (1, 1, 2, 3, 3)
HISTORY_RES_WEIGHTS = (3, 3, 2, 1)
HISTORY_INTERVAL_WEIGHTS = (1, 1, 2, 3, 3, 2)


def history_requests(seed: int, cells: dict[int, list[str]], n: int) -> list[dict]:
    """Unique history requests over 1-50 lattice cells, half in res mode
    (ranges from one hour to the whole month), half in interval mode.
    As for snapshots, the cost-setting shape of request k (cell count,
    precision, mode, resolution or interval, range length) is the same for
    every seed; the cells, range start, metric and aggregate are seeded."""
    shape = random.Random("history-shape")
    r = _rng(seed, "history-stream")
    seen = set()
    out = []
    while len(out) < n:
        p = shape.choice(PRECISIONS)
        k = shape.randint(1, 50)
        params = {"gh_precision": str(p)}
        if shape.random() < 0.5:
            span = shape.choices(HISTORY_SPANS_MS, weights=HISTORY_SPAN_WEIGHTS)[0]
            params["res"] = shape.choices(RESOLUTIONS, weights=HISTORY_RES_WEIGHTS)[0]
            lo = r.randrange(MONTH_START_MS, MONTH_END_MS - span + 1)
            params.update({"from": str(lo), "to": str(lo + span)})
        else:
            params["interval"] = shape.choices(INTERVALS, weights=HISTORY_INTERVAL_WEIGHTS)[0]
        pick = r.sample(cells[p], min(len(cells[p]), k))
        params["geohashes"] = ",".join(sorted(pick))
        req = {"shape": "history", "metric": r.choice(SERVING_METRICS),
               "aggregate": r.choice(AGGREGATES), "params": params}
        key = request_key(req)
        if key not in seen:
            seen.add(key)
            out.append(req)
    return out


#: The reference load test's request (sim_api_load.sh): a snapshot of the
#: Antwerp viewport, `avg`, `res=min`, precision 6, at one fixed instant.
#: The reference pins ts to 2019-08-31T23:59Z, the last minute of a month;
#: here it is the last minute of the serving month.
REFERENCE_SNAPSHOT = {
    "shape": "snapshot", "metric": "no2", "aggregate": "avg",
    "params": {"ts": str(MONTH_END_MS - 60_000),
               "bbox": ",".join(str(x) for x in ANTWERP_BBOX),
               "res": "min", "gh_precision": "6"},
}


def live_requests(seed: int, spec: GeoSpec, cells: dict[int, list[str]], n: int) -> list[dict]:
    """ingest_live reader traffic: the reference request, the snapshot
    generator and the history generator, interleaved one to one to one.
    The reference is all snapshots of one viewport; no published traffic
    gives the share of history reads, so the equal split is a stated
    choice, not a measurement."""
    snaps = snapshot_requests(seed, spec, n)
    hists = history_requests(seed, cells, n)
    return [(REFERENCE_SNAPSHOT, snaps[i // 3], hists[i // 3])[i % 3] for i in range(n)]


def request_key(req: dict) -> str:
    return json.dumps([req["shape"], req["metric"], req["aggregate"],
                       sorted(req["params"].items())])


def repeat_share(reqs: list[dict]) -> float:
    """Share of requests identical to an earlier one in the same stream."""
    seen = set()
    repeats = 0
    for q in reqs:
        k = request_key(q)
        repeats += k in seen
        seen.add(k)
    return repeats / len(reqs) if reqs else 0.0
