"""In-memory spans around calls into the engine's public functions.

The tracer patches module and class attributes of the engine from the
outside (nothing in ``cianparser_spark`` knows it is traced) and
restores them on ``close``.  Each span records its name, start, end,
parent span, thread and the Spark job/stage/task deltas over its
interval, read from the scheduler's id counters (three py4j calls, no
Spark job).  Spans stay in a list until the run ends.

DataFrames are lazy: a span around a plan-building call (``columnar.*``,
``WaveStore.read``) measures planning only; execution is charged to the
span of the action that triggers it.

The fetch+parse kernel runs inside Python workers, so it cannot push
spans to this process.  Its wrapper sums busy time (time inside the
kernel's generator minus time spent waiting for input batches), input
rows, the card count of fetched list pages and partitions into Spark
accumulators, which ride the task results back to this process without
an extra job.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


def _value(counter) -> int:
    """An id counter read through py4j: a plain number or an Atomic*."""
    return int(counter if isinstance(counter, int) else counter.get())


def spark_counters(sc) -> tuple[int, int, int]:
    """(jobs, stages, tasks) started so far in this SparkContext, read
    from the schedulers' next-id counters."""
    jsc = sc._jsc.sc()
    dag = jsc.dagScheduler()
    return (_value(dag.nextJobId()), _value(dag.nextStageId()),
            _value(jsc.taskScheduler().nextTaskId()))


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.kernel_busy = sc.accumulator(0.0)
        self.kernel_rows_in = sc.accumulator(0)
        self.kernel_cards = sc.accumulator(0)
        self.kernel_parts = sc.accumulator(0)

    # ----------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, n: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        c0 = spark_counters(self.sc)
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"id": idx, "name": name, "parent": parent,
                               "thread": threading.get_ident(),
                               "start": time.perf_counter(), "end": None})
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            end = time.perf_counter()
            c1 = spark_counters(self.sc)
            self.spans[idx].update(end=end, n=n, jobs=c1[0] - c0[0],
                                   stages=c1[1] - c0[1], tasks=c1[2] - c0[2])

    def wrap(self, owner, attr: str, name: str,
             size_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``size_arg`` names
        the positional argument whose length the span records as ``n``."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            n = len(args[size_arg]) if size_arg is not None else None
            with tracer.span(name, n):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def wrap_kernel_factory(self, owner, attr: str) -> None:
        """Wrap ``owner.attr`` (a ``make_fetch_parse``) so every kernel it
        returns reports busy time and row counts through accumulators."""
        orig = getattr(owner, attr)
        busy, rows_in = self.kernel_busy, self.kernel_rows_in
        cards, parts = self.kernel_cards, self.kernel_parts

        def traced_factory(*args, **kwargs):
            kernel = orig(*args, **kwargs)

            def traced_kernel(iterator):
                clock = time.perf_counter
                waited = 0.0
                n_in = 0

                def feed():
                    nonlocal waited, n_in
                    it = iter(iterator)
                    while True:
                        t0 = clock()
                        try:
                            pdf = next(it)
                        except StopIteration:
                            waited += clock() - t0
                            return
                        waited += clock() - t0
                        n_in += len(pdf)
                        yield pdf

                inside = 0.0
                n_cards = 0
                gen = kernel(feed())
                try:
                    while True:
                        t0 = clock()
                        try:
                            out = next(gen)
                        except StopIteration:
                            inside += clock() - t0
                            break
                        inside += clock() - t0
                        n_cards += int(out["n_cards"][out["row_type"] == "page"]
                                       .dropna().astype("int64").sum())
                        yield out
                finally:
                    busy.add(inside - waited)
                    rows_in.add(n_in)
                    cards.add(n_cards)
                    parts.add(1)

            return traced_kernel

        setattr(owner, attr, traced_factory)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -------------------------------------------------------- readouts

    def kernel_totals(self) -> dict:
        return {"busy_s": float(self.kernel_busy.value),
                "rows_in": int(self.kernel_rows_in.value),
                "cards": int(self.kernel_cards.value),
                "partitions": int(self.kernel_parts.value)}


# ------------------------------------------------------------ readouts
# These take any slice of ``Tracer.spans``; parents refer to span ids.

def total(spans: list[dict], prefix: str, field: str = "dur") -> float:
    """Sum of durations (or of ``field``) over the ``prefix`` spans."""
    out = 0.0
    for s in spans:
        if s["name"].startswith(prefix) and s["end"] is not None:
            out += (s["end"] - s["start"]) if field == "dur" else (s[field] or 0)
    return out


def count(spans: list[dict], prefix: str) -> int:
    return sum(1 for s in spans if s["name"].startswith(prefix))


def self_time(spans: list[dict], prefix: str) -> float:
    """Duration of the ``prefix`` spans minus the time their direct
    children cover (children run on the span's own thread)."""
    roots = {s["id"]: s for s in spans
             if s["name"].startswith(prefix) and s["end"] is not None}
    own = sum(s["end"] - s["start"] for s in roots.values())
    child = sum(s["end"] - s["start"] for s in spans
                if s["parent"] in roots and s["end"] is not None
                and s["thread"] == roots[s["parent"]]["thread"])
    return own - child


def install(tracer: Tracer) -> None:
    """Patch every layer boundary the benchmark traces."""
    from cianparser_spark.engine import bloom, columnar, crawler, seenidx, store

    for attr in ("run", "invalidate_and_recrawl"):
        tracer.wrap(crawler.CrawlEngine, attr, f"crawler.{attr}")
    for attr in ("commit_wave", "read", "compact", "vacuum"):
        tracer.wrap(store.WaveStore, attr, f"store.{attr}")
    for attr in ("widen", "split_cards", "seed_dim", "seed_dim_cols"):
        tracer.wrap(columnar, attr, f"columnar.{attr}")
    for attr in ("add", "to_bytes"):
        tracer.wrap(bloom.BloomFilter, attr, f"bloom.{attr}",
                    size_arg=1 if attr == "add" else None)
    for attr in ("write_str_runs", "probe_str_runs", "compact"):
        tracer.wrap(seenidx, attr, f"seenidx.{attr}")
    # crawler.py imports make_fetch_parse by name: patch its reference
    tracer.wrap_kernel_factory(crawler, "make_fetch_parse")
