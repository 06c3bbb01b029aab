"""The benchmark's workloads: generator shape, job arguments, oracle inputs.

Why each workload exists is in README.md; the JVM-side job each one runs
is in src/main/scala/graft/perfbench/Jobs.scala.
"""

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# ConsumeParams() defaults: two iterations over the five market segments
DEFAULT_ITERATIONS = [("it1", ["BUILDING", "AUTOMOBILE"]),
                      ("it2", ["MACHINERY", "HOUSEHOLD", "FURNITURE"])]
# customer / orders / nation in the shape of the sf0.1 tables
DIMS = {"customers": 15000, "orders_per_customer": 10, "files": 4}
# `warm_call_s` is a workload's warm-call time on a quiet 4-core host; a
# run repeats the call `--seconds / warm_call_s` times after the cold call.
# The first `warmup` repeats are not timed: they let the JIT finish
# compiling, where the call time still falls from one repeat to the next.
# At least two timed repeats follow them.


def _consume(events, warm_call_s, iterations=DEFAULT_ITERATIONS,
             month_start="2024-01-15", month_end="2024-02-01", date_segment=""):
    wl = {
        "kind": "consume",
        "warm_call_s": warm_call_s,
        "warmup": 0,
        "tables": ["events", "customer", "orders", "nation"],
        "dims": DIMS,
        "events": events,
        "activity_from": "1996-01-01",
        "activity_to": "1998-01-01",
        "month_start": month_start,
        "month_end": month_end,
        "iterations": iterations,
        "date_segment": date_segment,
    }
    wl["jvm_args"] = [
        "--kind", "consume", "--oracle", "pipe_consume_e2e",
        "--activity-from", wl["activity_from"], "--activity-to", wl["activity_to"],
        "--month-start", month_start, "--month-end", month_end,
        "--iterations", ";".join(f"{n}={','.join(s)}" for n, s in iterations),
        "--date-segment", date_segment]
    return wl


WORKLOADS = {
    # sf0.1's event stream: 100k rows, 1.5k users, 30 days, ~20 % tombstones
    "consume_daily": _consume({
        "rows": 100_000, "users": 1500, "days": 30, "start": "2024-01-01",
        "tombstones": 0.20, "files": 8}, warm_call_s=9.0),
    # many versions per user-day over fewer users, a Zipf tail of hot users
    "consume_deep_cdc": _consume({
        "rows": 400_000, "users": 1000, "days": 30, "start": "2024-01-01",
        "tombstones": 0.30, "hot_users": 20, "hot_weight": 6.0, "files": 8},
        warm_call_s=25.0),
    # full_refresh: 12 months of shallow CDC, all five segments as iterations
    "consume_backfill": _consume({
        "rows": 120_000, "users": 1000, "days": 365, "start": "2023-02-01",
        "tombstones": 0.05, "files": 8}, warm_call_s=15.0,
        iterations=[(f"seg{i + 1}", [s]) for i, s in enumerate(SEGMENTS)],
        month_start="2023-02-01", month_end="2024-02-01", date_segment="full_refresh"),
    "corpus_neardup": {
        "kind": "corpus",
        # repeats fall from ~4 s to ~2.5 s over the first six, at a pace
        # that varies from JVM to JVM; the warm-up repeats take most of
        # that fall out of the timing
        "warm_call_s": 3.0,
        "warmup": 5,
        "tables": ["documents"],
        "docs": {"vocab": 3000, "base_docs": 1500, "min_words": 20, "max_words": 90,
                 "clusters": 80, "max_cluster": 12, "boilerplate": 300, "form_letters": 60,
                 "template_words": 40, "unique_words": 2, "files": 8},
        "jvm_args": ["--kind", "corpus", "--oracle", "d6_neardup_dedup",
                     "--threshold", "0.95", "--max-bucket", "100"],
    },
}
