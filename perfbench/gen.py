"""Seeded input generator for the sink-pipeline benchmark.

Everything the program under test reads is written here, from one integer
seed, into a scratch directory; the same seed gives byte-identical files.

Layout under ``out_dir``:

- ``tables/<name>.parquet`` — the at-rest source tables, at sf0.1 sizes
  for ``scale=1.0``: ``events``, ``orders``, ``lineitem``, ``customer``
  and ``documents`` (the backfill CLI's ``TABLE_KEYS``), ``region``, and
  ``embeddings`` (read by the analytics queries).
- ``history/<name>.parquet`` — the prior sink history ``(key,
  time_last_dumped)`` each backfilled table is change-detected against.
- ``publish/*.parquet`` — the publish-path sources: course overviews,
  course block trees (depth-first pre-order, with duplicate locations),
  user profiles, users, external ids and external-id types, derived from
  the generated ``customer``/``orders``/``region`` rows.

:func:`publish_schedule` gives the open-loop publish schedule for a run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openedx_event_sink_clickhouse_spark.cli import TABLE_KEYS

# Row counts at scale 1.0 (the sf0.1 test-data sizes).
SIZES = {"events": 100_000, "orders": 150_000, "customer": 15_000,
         "documents": 5_000, "embeddings": 2_000, "courses": 200}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Publish models; each is also the sink table its entity rows land in.
# The schedule draws them with equal weight: nothing measured favours one.
PUBLISH_MODELS = ("course_overviews", "user_profile", "external_id")
# Skew of entity popularity among publish events: request popularity of
# web objects follows a Zipf-like law with exponents 0.64-0.83 (Breslau
# et al., "Web Caching and Zipf-like Distributions", INFOCOM 1999); 0.8
# sits in that range and makes popular entities repeat within an epoch.
ZIPF_ALPHA = 0.8

_US = 1_000_000
_DAY_US = 86_400 * _US
_EPOCH = dt.datetime(1970, 1, 1)


def _us(ts: dt.datetime) -> int:
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table, so adding a table never shifts
    # the values of another.
    sub = int.from_bytes(hashlib.md5(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, sub])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _pick(choices, idx: np.ndarray) -> pa.Array:
    return pa.array(choices, type=pa.string()).take(pa.array(idx))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _n(name: str, scale: float) -> int:
    return max(int(SIZES[name] * scale), 20)


def _events(seed, scale):
    r, n = _rng(seed, "events"), _n("events", scale)
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + r.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _pick(EVENT_TYPES, r.integers(0, len(EVENT_TYPES), n)),
        "value": pa.array(np.round(r.uniform(0, 100, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def _orders(seed, scale, n_cust):
    r, n = _rng(seed, "orders"), _n("orders", scale)
    start = _us(dt.datetime(1995, 1, 1))
    days = r.integers(0, 2400, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(["O", "F", "P"], r.integers(0, 3, n)),
        "o_totalprice": pa.array(np.round(r.uniform(900, 500_000, n), 2)),
        "o_orderdate": _ts(start + days * _DAY_US),
        "o_orderpriority": _pick(PRIORITIES, r.integers(0, 5, n)),
    })


def _lineitem(seed, orders: pa.Table):
    r = _rng(seed, "lineitem")
    okeys = orders["o_orderkey"].to_numpy()
    odates = orders["o_orderdate"].cast(pa.int64()).to_numpy()
    per = r.integers(1, 8, len(okeys))          # 1..7 lines per order
    rows = np.repeat(np.arange(len(okeys)), per)
    n = len(rows)
    linenumber = np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okeys[rows]),
        "l_partkey": pa.array(r.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(["N", "A", "R"], r.integers(0, 3, n)),
        "l_linestatus": _pick(["O", "F"], r.integers(0, 2, n)),
        "l_shipdate": _ts(odates[rows] + r.integers(1, 122, n) * _DAY_US),
    })


def _customer(seed, scale):
    r, n = _rng(seed, "customer"), _n("customer", scale)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": _pick(SEGMENTS, r.integers(0, 5, n)),
    })


def _region():
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)})


def _documents(seed, scale):
    """Short texts over a 30-word vocabulary, with exact duplicates and
    near-duplicates (a copy with some words replaced by ``dup``) so the
    dedup queries find pairs."""
    r, n = _rng(seed, "documents"), _n("documents", scale)
    words = []
    for _ in range(n):
        words.append([VOCAB[i] for i in r.integers(0, len(VOCAB),
                                                   r.integers(10, 101))])
    for i in range(1, n):
        u = r.random()
        if u < 0.004:                       # exact duplicate
            words[i] = list(words[r.integers(0, i)])
        elif u < 0.04:                      # near duplicate
            w = list(words[r.integers(0, i)])
            for j in r.integers(0, len(w), max(1, len(w) // 20)):
                w[j] = "dup"
            words[i] = w
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(LANGS, r.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(seed, scale, dim=64, clusters=10):
    r, n = _rng(seed, "embeddings"), _n("embeddings", scale)
    centers = r.normal(size=(clusters, dim))
    label = r.integers(0, clusters, n)
    v = centers[label] + r.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
        "label": pa.array(label.astype(np.int32)),
    })


def _history(seed, name, table: pa.Table):
    """Prior sink rows ``(key, time_last_dumped)``: 90% of keys were dumped
    before, 1-3 times; for 85% of those the source row changed since (its
    modified time is later than the last dump). Tables without a modified
    column are dumped at their backfill time, so every row is eligible."""
    key, mod = TABLE_KEYS[name]
    r = _rng(seed, f"history/{name}")
    keys = table[key].to_numpy()
    if mod is None:
        base = np.full(len(keys), _us(dt.datetime(2024, 6, 1)))
    else:
        base = table[mod].cast(pa.int64()).to_numpy()
    ukeys, first = np.unique(keys, return_index=True)
    ubase = base[first]
    dumped = r.random(len(ukeys)) < 0.9
    ukeys, ubase = ukeys[dumped], ubase[dumped]
    stale = r.random(len(ukeys)) < 0.85
    offset = r.integers(3_600 * _US, 10 * _DAY_US, len(ukeys))
    last = np.where(stale, ubase - offset, ubase + offset)
    copies = r.integers(1, 4, len(ukeys))
    hkeys = np.repeat(ukeys, copies)
    # earlier copies are older dumps of the same key
    back = (np.arange(len(hkeys)) - np.repeat(np.cumsum(copies) - copies,
                                              copies)) * _DAY_US
    return pa.table({key: pa.array(hkeys),
                     "time_last_dumped": _ts(np.repeat(last, copies) - back)})


def _course_trees(seed, scale):
    """Course overviews plus their block trees in depth-first pre-order:
    chapters → sequentials → verticals, detached blocks, and a few
    locations repeated later in the traversal (later one wins)."""
    r, n = _rng(seed, "courses"), _n("courses", scale)
    t0 = _us(dt.datetime(2023, 1, 1))
    ov = {c: [] for c in (
        "id", "org", "display_name", "start", "end", "enrollment_start",
        "enrollment_end", "self_paced", "created", "modified",
        "advertised_start", "announcement", "lowest_passing_grade",
        "invitation_only", "max_student_enrollments_allowed", "effort",
        "enable_proctored_exams", "entrance_exam_enabled", "external_id",
        "language")}
    bl = {c: [] for c in ("course_key", "org", "location", "display_name",
                          "block_type", "graded", "completion_mode", "order",
                          "edited_on")}
    for i in range(n):
        org = f"Org{i % 17}"
        key = f"course-v1:{org}+C{i:04d}+R{i % 3}"
        start = t0 + int(r.integers(0, 365)) * _DAY_US
        ov["id"].append(key)
        ov["org"].append(org)
        ov["display_name"].append(f"Course {i}’s \"title\"")
        for c, d in (("start", 0), ("end", 120), ("enrollment_start", -30),
                     ("enrollment_end", 60), ("created", -90),
                     ("modified", -1)):
            ov[c].append(start + d * _DAY_US)
        ov["self_paced"].append(bool(r.random() < 0.3))
        ov["advertised_start"].append(f"2023-{1 + i % 12:02d}-01")
        ov["announcement"].append(f"announced {i}")
        ov["lowest_passing_grade"].append(float(r.integers(40, 80)) / 100)
        ov["invitation_only"].append(bool(r.random() < 0.1))
        ov["max_student_enrollments_allowed"].append(int(r.integers(10, 5000)))
        ov["effort"].append(f"{int(r.integers(1, 10))} hours")
        ov["enable_proctored_exams"].append(bool(r.random() < 0.2))
        ov["entrance_exam_enabled"].append(bool(r.random() < 0.1))
        ov["external_id"].append(f"ext-{i}")
        ov["language"].append(LANGS[i % 5])

        blocks = []

        def add(btype, name, graded=False, mode="unknown", loc=None):
            b = len(blocks) + 1
            loc = loc or (f"block-v1:{org}+C{i:04d}+R{i % 3}+type@{btype}"
                          f"+block@b{b:03d}")
            if r.random() < 0.3:
                loc = loc.replace("+block@", "+branch@draft-branch+block@")
            blocks.append((loc, name, btype, graded, mode))

        add("course", "top")
        for s in range(int(r.integers(2, 6))):
            add("chapter", f"Section {s}")
            for ss in range(int(r.integers(1, 4))):
                add("sequential", f"Subsection {ss}")
                for u in range(int(r.integers(1, 5))):
                    add("vertical", f"Unit {u}", graded=bool(r.random() < 0.2),
                        mode=["unknown", "completable", "aggregator"][u % 3])
        for d in range(2):
            add("course_info", f"Detached {d}")
        for _ in range(int(r.integers(0, 3))):   # repeated locations
            loc, name, btype, graded, mode = blocks[int(r.integers(1, len(blocks)))]
            add(btype, name + " (moved)", graded, mode, loc=loc)
        edited = dt.datetime(2023, 9, 1) + dt.timedelta(days=i % 90)
        for order, (loc, name, btype, graded, mode) in enumerate(blocks, 1):
            for c, v in zip(bl, (key, org, loc, name, btype, graded, mode,
                                 order, str(edited))):
                bl[c].append(v)

    ts_cols = ("start", "end", "enrollment_start", "enrollment_end",
               "created", "modified")
    overviews = pa.table({c: (_ts(np.array(v)) if c in ts_cols else
                              pa.array(v)) for c, v in ov.items()})
    bl["order"] = pa.array(bl["order"], type=pa.int32())
    return overviews, pa.table(bl)


def _people(seed, customer: pa.Table, orders: pa.Table):
    """Users, profiles and external ids: one user per customer; the
    profile's location/country come from the customer's region, its
    ``meta`` from the customer's order count."""
    r = _rng(seed, "people")
    ck = customer["c_custkey"].to_numpy()
    n = len(ck)
    region = customer["c_nationkey"].to_numpy() % 5
    n_orders = np.bincount(orders["o_custkey"].to_numpy(), minlength=n)[:n]
    names = customer["c_name"].to_pylist()
    users = pa.table({
        "id": pa.array(ck),
        "username": pa.array([f"user{k}" for k in ck]),
        "email": pa.array([f"user{k}@example.com" for k in ck]),
    })
    t_img = _us(dt.datetime(2022, 1, 1)) + r.integers(0, 365 * _DAY_US, n)
    profiles = pa.table({
        "id": pa.array(ck),
        "user_id": pa.array(ck),
        "name": pa.array(names),
        "meta": pa.array([f'{{"orders": {k}}}' for k in n_orders]),
        "courseware": pa.array(["course.xml"] * n),
        "language": _pick(LANGS, r.integers(0, 5, n)),
        "location": _pick(REGIONS, region),
        "year_of_birth": pa.array(r.integers(1950, 2008, n).astype(np.int64)),
        "gender": _pick(["f", "m", "o"], r.integers(0, 3, n)),
        "level_of_education": _pick(["p", "m", "b", "hs"], r.integers(0, 4, n)),
        "mailing_address": pa.array([f"{k} Main St" for k in ck]),
        "city": pa.array([f"City {k % 97}" for k in ck]),
        "country": _pick(["US", "CN", "DE", "BR", "EG"], region),
        "state": _pick(["IL", "CA", "NY", "TX"], r.integers(0, 4, n)),
        "goals": pa.array(["learn"] * n),
        "bio": pa.array([f"bio of {nm}, \"quoted\"" for nm in names]),
        "profile_image_uploaded_at": _ts(t_img),
        "phone_number": pa.array([f"+1-555-{k:07d}" for k in ck]),
    })
    hexes = [hashlib.md5(f"{seed}/{k}".encode()).hexdigest() for k in ck]
    external_ids = pa.table({
        "external_user_id": pa.array(
            [f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}" for h in hexes]),
        "user_id": pa.array(ck),
        "external_id_type_id": pa.array(region.astype(np.int64)),
    })
    id_types = pa.table({"id": pa.array(np.arange(5, dtype=np.int64)),
                         "name": pa.array([f"{x.lower()}_sso" for x in REGIONS])})
    return {"users": users, "profiles": profiles,
            "external_ids": external_ids, "id_types": id_types}


PARTS = ("backfill", "analytics", "publish")


def generate(out_dir: str, seed: int, scale: float = 1.0,
             parts: tuple[str, ...] = PARTS) -> dict:
    """Write the inputs of the named ``parts`` for one seed; returns
    ``{name: path}`` of the tables, histories and publish sources
    written. A table's content does not depend on ``parts``."""
    customer = _customer(seed, scale)
    orders = _orders(seed, scale, customer.num_rows)
    makers = {
        "events": lambda: _events(seed, scale),
        "orders": lambda: orders,
        "lineitem": lambda: _lineitem(seed, orders),
        "customer": lambda: customer,
        "region": _region,
        "documents": lambda: _documents(seed, scale),
        "embeddings": lambda: _embeddings(seed, scale),
    }
    wanted = set()
    if "backfill" in parts:
        wanted |= set(TABLE_KEYS) | {"region"}
    if "analytics" in parts:
        wanted |= {"documents", "embeddings"}
    paths, tables = {}, {}
    for name in (n for n in makers if n in wanted):
        tables[name] = makers[name]()
        paths[name] = os.path.join(out_dir, "tables", f"{name}.parquet")
        _write(tables[name], paths[name])
    if "backfill" in parts:
        for name in TABLE_KEYS:
            p = os.path.join(out_dir, "history", f"{name}.parquet")
            _write(_history(seed, name, tables[name]), p)
            paths[f"history/{name}"] = p
    if "publish" in parts:
        overviews, blocks = _course_trees(seed, scale)
        publish = {"overviews": overviews, "blocks": blocks,
                   **_people(seed, customer, orders)}
        for name, t in publish.items():
            p = os.path.join(out_dir, "publish", f"{name}.parquet")
            _write(t, p)
            paths[f"publish/{name}"] = p
    return paths


def publish_ids(paths: dict) -> dict[str, list[str]]:
    """Entity ids each publish model can name, as the event's
    ``object_id`` strings."""
    ov = pq.read_table(paths["publish/overviews"], columns=["id"])
    pr = pq.read_table(paths["publish/profiles"], columns=["id"])
    ex = pq.read_table(paths["publish/external_ids"], columns=["user_id"])
    return {"course_overviews": ov["id"].to_pylist(),
            "user_profile": [str(i) for i in pr["id"].to_pylist()],
            "external_id": [str(i) for i in ex["user_id"].to_pylist()]}


def publish_schedule(seed: int, ids: dict[str, list[str]], seconds: float,
                     files_per_s: float, events_per_file: int,
                     ) -> list[tuple[float, list[tuple[str, str]]]]:
    """The open-loop schedule: ``[(due offset in s, [(model, id), ...])]``.

    Files are due at a fixed rate. Each event's model is drawn from
    ``PUBLISH_MODELS`` with equal weight, and its id Zipf-like
    (``ZIPF_ALPHA``) over a seed-shuffled order of the model's ids, so
    popular entities repeat inside one micro-batch."""
    r = _rng(seed, "schedule")
    order = {m: r.permutation(len(ids[m])) for m in PUBLISH_MODELS}
    popularity = {m: _zipf_weights(len(ids[m])) for m in PUBLISH_MODELS}
    out = []
    for f in range(int(seconds * files_per_s)):
        events = []
        for m in r.integers(0, len(PUBLISH_MODELS), events_per_file):
            model = PUBLISH_MODELS[m]
            rank = r.choice(len(ids[model]), p=popularity[model])
            events.append((model, ids[model][order[model][rank]]))
        out.append((f / files_per_s, events))
    return out


def _zipf_weights(n: int) -> np.ndarray:
    """Probability of popularity ranks ``1..n``: proportional to
    ``rank ** -ZIPF_ALPHA``."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_ALPHA
    return w / w.sum()
