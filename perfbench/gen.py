"""Seeded input generator for the graft benchmark.

Everything here depends only on the seed and the size constants below:
no program code is imported, so a change to graft cannot change the
inputs. Tables carry the column layout of graft's `events`,
`documents` and `embeddings` tables (see TESTDATA.md).

`generate(workload, seed, out_dir)` writes the workload's tables and a
`script.json` of seeded operations, and returns the input properties
recorded in the benchmark's output.
"""
import datetime
import hashlib
import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Event tables: 20k rows over 30 days, 1500 users. At this size an op is
# still dominated by planning and scheduling, as at sf0.1 (100k rows),
# and a run fits two rounds of the op mix into its time budget.
N_EVENTS = 20_000
N_USERS = 1_500
DAYS = 30
EPOCH_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
               .timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# corpus_dedup: documents with a fixed share of seeded near-duplicates.
N_DOCS = 500
DUP_SHARE = 0.25
EMB_DIM = 64
N_LABELS = 5

# table_mutation: the table holds TABLE_DAYS date partitions. Each round
# is upsert, range read, delete, point lookup, append, time-travel read
# and compact; each batch falls in a window of WINDOW_DAYS days.
UPSERT_UPDATES = 150
UPSERT_INSERTS = 50
DELETE_KEYS = 100
APPEND_ROWS = 500
WINDOW_DAYS = 2
TABLE_DAYS = 10
N_MUTATION_ROUNDS = 12

# log_follow: base source rows and the size of each appended batch.
FOLLOW_BASE_ROWS = 20_000
FOLLOW_BATCH_ROWS = 1_000
N_FOLLOW_BATCHES = 40
DRAIN_EVERY = 5

# log_query: the verbs cycled in a fixed order, each over a seeded filter.
VERBS = ["window", "last", "group_site", "accumulate_top", "stats",
         "timeseries", "jsonl", "track_visitors", "anonymize_ip", "geoip"]
N_QUERY_OPS = 120

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _write(table, path):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _events(rng, first_id, n, t0_us, span_us):
    ids = list(range(first_id, first_id + n))
    return {
        "event_id": ids,
        "ts": [t0_us + rng.randrange(span_us) for _ in ids],
        "user_id": [rng.randrange(N_USERS) for _ in ids],
        "event_type": [rng.choice(EVENT_TYPES) for _ in ids],
        "value": [round(rng.random() * 560.0, 2) for _ in ids],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in ids],
    }


def _event_table(cols):
    cols = dict(cols)
    cols["ts"] = pa.array(cols["ts"], pa.timestamp("us"))
    return pa.table(cols, schema=EVENT_SCHEMA)


def _site_set(rng):
    return sorted(rng.sample([f"site_{i}" for i in range(10)],
                             rng.randint(1, 5)))


def _query_filter(rng):
    """A seeded pond filter; every field is optional (LogFilter)."""
    f = {"sites": _site_set(rng) if rng.random() < 0.6 else []}
    if rng.random() < 0.3:
        f["hosts"] = sorted(rng.sample([f"h{i}.example.com" for i in range(5)],
                                       rng.randint(1, 3)))
    if rng.random() < 0.6:
        lo = rng.randrange(DAYS - 3)
        hi = rng.randint(lo + 1, DAYS)
        f["since_us"] = EPOCH_US + lo * DAY_US
        f["until_us"] = EPOCH_US + hi * DAY_US - 1
    if rng.random() < 0.4:
        f["status"] = rng.choice([[200, 300], [400, 500], [500, 600],
                                  [200, 600]])
    if rng.random() < 0.3:
        f["uri_prefix"] = "/" + rng.choice(EVENT_TYPES) + "/"
    if rng.random() < 0.2:
        f["user_agent"] = rng.choice(list(USER_AGENTS))
    return f


# The log fields a filter tests, as LogView derives them from an event:
# site user_id % 10, host and user agent user_id % 5, status from the
# event type and props.k, URI prefix "/<event_type>/". The generator uses
# this model only to count the rows each filter keeps.
USER_AGENTS = {"curl": 0, "Mozilla": 1, "bot": 2, "python": 3}
MIN_KEPT = N_EVENTS // 100


def _log_cells(cols):
    """Event counts by (user_id % 10, event type, status, day)."""
    cells = {}
    for t, u, e, p in zip(cols["ts"], cols["user_id"], cols["event_type"],
                          cols["props"]):
        k = json.loads(p)["k"]
        status = 500 + k % 12 if e == "error" else 404 if k % 7 == 0 else 200
        key = (u % 10, e, status, (t - EPOCH_US) // DAY_US)
        cells[key] = cells.get(key, 0) + 1
    return cells


def _kept(f, cells):
    """Rows of the log that filter `f` keeps."""
    sites = {int(x[len("site_"):]) for x in f["sites"]}
    hosts = {int(x[1]) for x in f.get("hosts", [])}
    lo_day = (f["since_us"] - EPOCH_US) // DAY_US if "since_us" in f else 0
    hi_day = (f["until_us"] - EPOCH_US) // DAY_US if "until_us" in f else DAYS
    st = f.get("status", [0, 0xffff])
    ua = USER_AGENTS.get(f.get("user_agent"))
    uri = f.get("uri_prefix", "")
    n = 0
    for (site, e, status, day), c in cells.items():
        if ((not sites or site in sites) and (not hosts or site % 5 in hosts)
                and lo_day <= day <= hi_day and st[0] <= status < st[1]
                and f"/{e}/".startswith(uri)
                and (ua is None or site % 5 == ua)):
            n += c
    return n


def _log_query(rng, out):
    cols = _events(rng, 0, N_EVENTS, EPOCH_US, DAYS * DAY_US)
    _write(_event_table(cols), out / "events.parquet")
    cells = _log_cells(cols)
    ops, kept, redrawn = [], [], 0
    for i in range(N_QUERY_OPS):
        # a filter that keeps (almost) nothing would time an empty query
        f = _query_filter(rng)
        while _kept(f, cells) < MIN_KEPT:
            f = _query_filter(rng)
            redrawn += 1
        ops.append({"verb": VERBS[i % len(VERBS)], "filter": f})
        kept.append(_kept(f, cells) / N_EVENTS)
    kept.sort()
    return {"ops": ops, "rows": N_EVENTS, "round": len(VERBS)}, {
        "events": N_EVENTS, "ops_generated": len(ops),
        "filter_selectivity": {
            "min": round(kept[0], 4), "median": round(kept[len(kept) // 2], 4),
            "max": round(kept[-1], 4),
            "base": "rows kept / rows of the log, over all generated filters"},
        "filters_redrawn": redrawn}


def _word(rng):
    letters = "etaoinshrdlcumwfgypbvkjxqz"
    weights = [12, 9, 8, 8, 7, 7, 6, 6, 6, 4, 4, 3, 3, 2, 2, 2, 2, 2, 2,
               1, 1, 1, 1, 1, 1, 1]
    return "".join(rng.choices(letters, weights, k=rng.randint(3, 9)))


def _corpus_dedup(rng, out):
    vocab = sorted({_word(rng) for _ in range(6000)})
    texts, langs, sources, vecs, labels, dup_of = [], [], [], [], [], []
    for d in range(N_DOCS):
        if d > 10 and rng.random() < DUP_SHARE:
            b = rng.randrange(d)
            while dup_of[b] is not None:
                b = dup_of[b]
            words = texts[b].split(" ")
            for _ in range(max(1, len(words) // 30)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
            langs.append(langs[b])
            sources.append(sources[b])
            labels.append(labels[b])
            vecs.append([x + rng.gauss(0.0, 0.02) for x in vecs[b]])
            dup_of.append(b)
        else:
            texts.append(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(30, 90))))
            langs.append("en" if rng.random() < 0.8 else "de")
            sources.append(f"src{rng.randrange(5)}")
            labels.append(rng.randrange(N_LABELS))
            vecs.append([rng.gauss(0.0, 0.125) for _ in range(EMB_DIM)])
            dup_of.append(None)
    ids = list(range(N_DOCS))
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        out / "documents.parquet")
    # vec_id == doc_id: Dedup.unionEdges puts embedding edges in the
    # document id space
    _write(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), out / "embeddings.parquet")
    n_dup = sum(1 for x in dup_of if x is not None)
    return {"rows": N_DOCS, "round": 5}, {"documents": N_DOCS, "near_duplicates": n_dup,
                "duplicate_share": round(n_dup / N_DOCS, 4)}


def _table_mutation(rng, out):
    base = _events(rng, 0, N_EVENTS, EPOCH_US, TABLE_DAYS * DAY_US)
    _write(_event_table(base), out / "events.parquet")
    # live keys by day, so each batch lands in a window of a few days
    by_day = [set() for _ in range(TABLE_DAYS)]
    for i, t in zip(base["event_id"], base["ts"]):
        by_day[(t - EPOCH_US) // DAY_US].add(i)
    next_id = 1_000_000_000
    steps = []

    def window():
        lo = rng.randrange(TABLE_DAYS - WINDOW_DAYS + 1)
        return lo, sorted(set().union(*by_day[lo:lo + WINDOW_DAYS]))

    def fresh(n, lo):
        nonlocal next_id
        cols = _events(rng, next_id, n, EPOCH_US + lo * DAY_US,
                       WINDOW_DAYS * DAY_US)
        next_id += n
        return cols

    def land(cols):
        for i, t in zip(cols["event_id"], cols["ts"]):
            by_day[(t - EPOCH_US) // DAY_US].add(i)

    def drop(keys):
        for d in by_day:
            d.difference_update(keys)

    for r in range(N_MUTATION_ROUNDS):
        name = f"batches/{r:04d}_{{}}.parquet"
        # upsert: updates of live rows plus inserts, one window
        lo, live = window()
        upd = rng.sample(live, UPSERT_UPDATES)
        cols = fresh(UPSERT_UPDATES + UPSERT_INSERTS, lo)
        cols["event_id"] = upd + cols["event_id"][UPSERT_UPDATES:]
        drop(upd)
        land(cols)
        _write(_event_table(cols), out / name.format("upsert"))
        steps.append({"kind": "upsert", "batch": name.format("upsert"),
                      "rows": UPSERT_UPDATES + UPSERT_INSERTS})
        lo = rng.randrange(TABLE_DAYS - 5)
        steps.append({"kind": "read_range", "lo_day": lo,
                      "hi_day": lo + rng.randint(1, 5)})
        lo, live = window()
        keys = rng.sample(live, DELETE_KEYS)
        drop(keys)
        _write(pa.table({"event_id": pa.array(keys, pa.int64())}),
               out / name.format("delete"))
        steps.append({"kind": "delete", "batch": name.format("delete"),
                      "rows": DELETE_KEYS})
        steps.append({"kind": "point_lookup", "keys": sorted(rng.sample(
            sorted(set().union(*by_day)), 20))})
        lo, _ = window()
        cols = fresh(APPEND_ROWS, lo)
        land(cols)
        _write(_event_table(cols), out / name.format("append"))
        steps.append({"kind": "append", "batch": name.format("append"),
                      "rows": APPEND_ROWS})
        # the snapshot layer keeps two versions: read the previous one
        steps.append({"kind": "read_at", "back": 1})
        steps.append({"kind": "compact"})
    return {"steps": steps, "rows": N_EVENTS, "round": 7}, {
        "base_rows": N_EVENTS, "upsert_rows": UPSERT_UPDATES + UPSERT_INSERTS,
        "delete_keys": DELETE_KEYS, "append_rows": APPEND_ROWS,
        "batch_window_days": WINDOW_DAYS, "compact_every_commits": 3}


def _log_follow(rng, out):
    span = DAYS * DAY_US
    base = _events(rng, 0, FOLLOW_BASE_ROWS, EPOCH_US, span)
    _write(_event_table(base), out / "source" / "part-00000.parquet")
    batches = []
    t0 = EPOCH_US + span
    for j in range(1, N_FOLLOW_BATCHES + 1):
        cols = _events(rng, FOLLOW_BASE_ROWS + (j - 1) * FOLLOW_BATCH_ROWS,
                       FOLLOW_BATCH_ROWS, t0, DAY_US // 4)
        t0 += DAY_US // 4
        name = f"batches/part-{j:05d}.parquet"
        _write(_event_table(cols), out / name)
        batches.append(name)
    return {"batches": batches, "drain_every": DRAIN_EVERY,
            "rows": FOLLOW_BASE_ROWS, "batch_rows": FOLLOW_BATCH_ROWS,
            "round": DRAIN_EVERY + 2}, {
        "base_rows": FOLLOW_BASE_ROWS, "batch_rows": FOLLOW_BATCH_ROWS,
        "drain_every_appends": DRAIN_EVERY}


GENERATORS = {
    "log_query": _log_query,
    "corpus_dedup": _corpus_dedup,
    "table_mutation": _table_mutation,
    "log_follow": _log_follow,
}


def digest(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def generate(workload, seed, out):
    out = Path(out)
    rng = random.Random(f"{workload}:{seed}")
    script, props = GENERATORS[workload](rng, out)
    script["workload"] = workload
    (out / "script.json").write_text(json.dumps(script))
    return props
