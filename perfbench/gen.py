"""Seeded input generator for the benchmark workloads.

Every table is written as several parquet files under `<dir>/<table>.parquet/`,
the way a landing layer writes them, with the column names and types of the
program's synthetic test tables. The same (workload spec, seed) gives
byte-identical files: all randomness comes from one numpy generator seeded
with the seed, and pyarrow writes no timestamps or host data into the files.

`generate(spec, seed, out_dir)` returns the input properties that each run
record prints (rows, users, versions per user-day, tombstone share, ...).
"""
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "view", "purchase"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
US_PER_DAY = 86_400_000_000


def _epoch_us(day):
    """Microseconds since the epoch of a 'YYYY-MM-DD' day (UTC)."""
    d = datetime.strptime(day, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    return int(d.timestamp()) * 1_000_000


def _write(table, out_dir, name, files):
    """Write `table` as `files` parquet files of contiguous row slices."""
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _dimensions(rng, spec, out_dir):
    """customer, orders and nation in the shape of the sf0.1 tables."""
    n_cust = spec["customers"]
    keys = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    n_ord = spec["orders_per_customer"] * n_cust
    lo, hi = _epoch_us("1995-01-01") // US_PER_DAY, _epoch_us("2001-08-01") // US_PER_DAY
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64) * 4 + 1,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(850.0, 550000.0, n_ord), 2),
        "o_orderdate": pa.array(rng.integers(lo, hi + 1, n_ord) * US_PER_DAY,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    files = spec["files"]
    _write(customer, out_dir, "customer", files)
    _write(orders, out_dir, "orders", files)
    _write(nation, out_dir, "nation", 1)


def _events(rng, spec, out_dir):
    """The CDC stream: `rows` events of `users` users over `days` days.

    Every timestamp is unique (sorted uniform offsets plus the row index in
    µs), `event_id` is the row's rank in time, a `tombstones` share of the
    rows are `error` deletes and the rest spread evenly over the four live
    event types. `hot_users` users get Zipf weights 2..hot_weight (the rest
    weight 1), so a skewed tail of users carries many more versions.
    """
    n, users, days = spec["rows"], spec["users"], spec["days"]
    start = _epoch_us(spec["start"])
    span = days * US_PER_DAY
    offs = np.sort(rng.integers(0, span - n, n)) + np.arange(n)
    weights = np.ones(users)
    hot = spec.get("hot_users", 0)
    if hot:
        ranks = np.arange(1, hot + 1)
        hot_ids = rng.choice(users, hot, replace=False)
        weights[hot_ids] = np.maximum(2.0, spec["hot_weight"] / ranks)
    user = rng.choice(users, n, p=weights / weights.sum()).astype(np.int64)
    tomb = rng.random(n) < spec["tombstones"]
    etype = np.where(tomb, "error", EVENT_TYPES[rng.integers(0, 4, n)])
    value = np.round(rng.uniform(1.0, 1000.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": props,
    })
    _write(events, out_dir, "events", spec["files"])

    day = offs // US_PER_DAY
    user_days = len(np.unique(user * days + day))
    hot_rows = int(np.isin(user, np.flatnonzero(weights > 1)).sum()) if hot else 0
    return {
        "rows": n,
        "users": int(len(np.unique(user))),
        "versions_per_user_day": round(n / user_days, 3),
        "tombstone_share": round(float(tomb.mean()), 4),
        "months": round(days / 30.4, 1),
        "hot_user_share": round(hot_rows / n, 4),
    }


def _documents(rng, spec, out_dir):
    """A corpus of random base documents plus planted near-duplicates.

    - clusters: each picks its own base document and adds copies that differ
      from it as text (words reordered, upper-cased or repeated) but not
      as a token set, so every copy is a Jaccard-1.0 near-duplicate and the
      cluster is one connected component. (Copies just above the 0.95
      threshold are left out on purpose: the b=6, r=12 banding misses
      such a pair with probability ~1 %, which the exact oracle would
      count as a wrong survivor.) The cluster sizes cycle through
      2..`max_cluster` whatever the seed, so every seed plants the same
      number of documents and duplicate pairs: the seed changes the text,
      not the amount of work.
    - one boilerplate family of `boilerplate` documents sharing a template
      of `template_words` words plus `unique_words` words of their own:
      pairwise Jaccard stays well below 0.95, but their MinHash bands
      collide in buckets larger than the job's `maxBucket`, which the
      oversized-bucket guard drops;
    - one smaller template family of `form_letters` documents built the
      same way: its buckets stay under `maxBucket`, so its pairs become
      candidates that the exact Jaccard check rejects.
    """
    vocab = np.array([f"w{i}" for i in range(spec["vocab"])])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()

    def words(k):
        return list(dict.fromkeys(vocab[rng.choice(len(vocab), 3 * k, p=zipf)]))[:k]

    texts = []
    for _ in range(spec["base_docs"]):
        texts.append(words(int(rng.integers(spec["min_words"], spec["max_words"] + 1))))
    sizes = [2 + i % (spec["max_cluster"] - 1) for i in range(spec["clusters"])]
    bases = rng.choice(spec["base_docs"], spec["clusters"], replace=False)
    for size, b in zip(sizes, bases):
        base = texts[int(b)]
        for _ in range(size - 1):
            copy = [w.upper() if rng.random() < 0.2 else w for w in base]
            copy += list(rng.choice(base, int(rng.integers(0, 4))))
            texts.append(list(rng.permutation(copy)) if rng.random() < 0.5 else copy)
    for family, size in (("bp", spec["boilerplate"]), ("fl", spec["form_letters"])):
        template = [f"{family}{i}" for i in range(spec["template_words"])]
        for i in range(size):
            texts.append(template + [f"{family}u{i}v{j}" for j in range(spec["unique_words"])])
    order = rng.permutation(len(texts))
    body = [" ".join(texts[i]) for i in order]
    docs = pa.table({
        "doc_id": np.arange(len(body), dtype=np.int64),
        "text": body,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, len(body))],
        "source": [f"src{k}" for k in rng.integers(0, 10, len(body))],
        "n_chars": np.array([len(t) for t in body], dtype=np.int64),
    })
    _write(docs, out_dir, "documents", spec["files"])
    return {
        "rows": len(body),
        "base_docs": spec["base_docs"],
        "cluster_sizes": sorted(sizes, reverse=True),
        "boilerplate_family": spec["boilerplate"],
        "form_letters": spec["form_letters"],
    }


def generate(spec, seed, out_dir):
    """Write the workload's inputs under out_dir; return their properties."""
    rng = np.random.default_rng(seed)
    if spec["kind"] == "corpus":
        return _documents(rng, spec["docs"], out_dir)
    _dimensions(rng, spec["dims"], out_dir)
    return _events(rng, spec["events"], out_dir)
