"""Latency, lineage and percentile math over the logs a Structured
Streaming run leaves on disk.

Each query of the loop reads file topics and writes a file topic. Its
checkpoint and its sink keep four logs, and their file times are the
moments that matter:

* ``<checkpoint>/offsets/<b>``   written when batch ``b`` starts (WAL),
  with each source's log offset;
* ``<checkpoint>/commits/<b>``   written when batch ``b`` is done;
* ``<checkpoint>/sources/<i>/<n>[.compact]``  the input files source
  ``i`` found at its log offset ``n`` (each entry carries it as ``batchId``);
* ``<sink>/_spark_metadata/<b>[.compact]``  the output files of batch
  ``b``. Its file time is when the batch became visible downstream.

Following a file from the topic a generator wrote, through the batch
that read it, to the batch of the next query that read that batch's
output, gives per-record latencies without touching the records.
"""
import datetime
import json
import math
import os
import re
from urllib.parse import unquote, urlparse

_BATCH_FILE = re.compile(r"(\d+)(\.compact)?")


def percentile(values, q):
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def mtime_ms(path):
    return os.stat(path).st_mtime_ns / 1e6


def iso_ms(text):
    """Epoch ms of an ISO-8601 UTC timestamp as Spark's ``to_json`` writes it."""
    return datetime.datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp() * 1000.0


def local_path(uri):
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def _batch_files(directory):
    out = {}
    if os.path.isdir(directory):
        for name in os.listdir(directory):
            m = _BATCH_FILE.fullmatch(name)
            if m:
                out[int(m.group(1))] = os.path.join(directory, name)
    return out


def _entries(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    return [json.loads(line) for line in lines[1:] if line.strip()]


def read_marks(checkpoint, kind):
    """``{batch: file time in ms}`` of ``offsets`` or ``commits``."""
    return {b: mtime_ms(p) for b, p in _batch_files(os.path.join(checkpoint, kind)).items()}


def read_offsets(checkpoint):
    """``{batch: [log offset of each source]}`` from the offset log. A file
    source's log offset counts its own log entries, not query batches."""
    out = {}
    for b, p in _batch_files(os.path.join(checkpoint, "offsets")).items():
        with open(p, encoding="utf-8") as f:
            lines = f.read().splitlines()[2:]
        out[b] = [json.loads(x).get("logOffset") if x.strip().startswith("{") else None
                  for x in lines]
    return out


def read_source_log(checkpoint):
    """``{input file path: query batch that read it}`` over every source.
    Source ``i``'s entry with log offset ``n`` belongs to the first batch
    whose offset for source ``i`` reaches ``n``."""
    offsets = sorted(read_offsets(checkpoint).items())
    consumed = {}
    sources = os.path.join(checkpoint, "sources")
    if os.path.isdir(sources):
        for s in sorted(os.listdir(sources)):
            i = int(s)
            for _, path in sorted(_batch_files(os.path.join(sources, s)).items()):
                for e in _entries(path):
                    n = int(e["batchId"])
                    b = next((b for b, offs in offsets
                              if i < len(offs) and offs[i] is not None and offs[i] >= n), None)
                    if b is not None:
                        consumed[local_path(e["path"])] = b
    return consumed


def read_sink_log(topic):
    """``{batch: (visible ms, [files added by that batch])}``. A compact
    file repeats every earlier entry, so only the new ones are its own."""
    files = _batch_files(os.path.join(topic, "_spark_metadata"))
    seen, out = set(), {}
    for b in sorted(files):
        added = [p for p in (local_path(e["path"]) for e in _entries(files[b])) if p not in seen]
        seen.update(added)
        out[b] = (mtime_ms(files[b]), added)
    return out


class Query:
    """One streaming query's logs: where it read, when its batches
    started, committed and became visible, and what they wrote."""

    def __init__(self, checkpoint, sink):
        self.consumed = read_source_log(checkpoint)
        self.start = read_marks(checkpoint, "offsets")
        self.commit = read_marks(checkpoint, "commits")
        sink_log = read_sink_log(sink)
        self.visible = {b: v for b, (v, _) in sink_log.items()}
        self.outputs = {b: files for b, (_, files) in sink_log.items()}
        self.producer = {f: b for b, files in self.outputs.items() for f in files}

    def next_output_batch(self, b):
        """First batch at or after ``b`` that wrote output (orders a J1
        batch buffered before the first price leave in a later one)."""
        later = [x for x, files in self.outputs.items() if x >= b and files]
        return min(later) if later else None


def consumer_visible(producer, consumer, batch):
    """When the output of ``producer``'s ``batch`` became visible as
    ``consumer`` output: the latest consumer batch that read any of its
    files. None while some file is unread."""
    files = producer.outputs.get(batch, [])
    if not files or any(f not in consumer.consumed for f in files):
        return None
    b = max(consumer.consumed[f] for f in files)
    return consumer.visible.get(b)


def order_latencies(ticks, orders_dir, j1, t1):
    """Per tick: (due ms, orders, visible ms or None). An order is done
    when the t1 batch that read its J1 updater is visible."""
    out = []
    for t in ticks:
        if not t["orders"]:
            continue
        f = os.path.join(orders_dir, "orders_%06d.json" % t["tick"])
        vis = None
        if f in j1.consumed:
            b1 = j1.next_output_batch(j1.consumed[f])
            if b1 is not None:
                vis = consumer_visible(j1, t1, b1)
        out.append((t["due_ms"], t["orders"], vis))
    return out


def return_latencies(t2, t1):
    """Per RETURN updater written by t2: (timer expiry ms, visible ms or
    None); the expiry is the updater's own ``time``."""
    out = []
    for b, files in sorted(t2.outputs.items()):
        for f in files:
            vis = t1.visible.get(t1.consumed[f]) if f in t1.consumed else None
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        out.append((iso_ms(json.loads(line)["value"]["time"]), vis))
    return out


def weighted(samples):
    """Expand (latency, weight) pairs into one sample per record."""
    return [lat for lat, w in samples for _ in range(w)]


def input_waits(query, avail_of, since_ms):
    """Per input file read at or after ``since_ms``: (wait, hop) in ms.
    ``wait``: file available → batch start; ``hop``: → batch visible."""
    waits, hops = [], []
    for f, b in query.consumed.items():
        avail = avail_of(f)
        if avail is None or avail < since_ms or b not in query.start:
            continue
        waits.append(query.start[b] - avail)
        if b in query.visible:
            hops.append(query.visible[b] - avail)
    return waits, hops


def loop_metrics(loop):
    """End-to-end and per-layer loop figures from one run's logs.
    ``loop`` is the loop section of the JVM report."""
    root = loop["root"]
    topics = os.path.join(root, "topics")
    q = {n: Query(os.path.join(root, "cp", n), os.path.join(topics, sink))
         for n, sink in (("j1", "updaters"), ("t1", "events"), ("t2", "returns"))}
    start, gen_end = loop["measure_start_ms"], loop["gen_end_ms"]
    measured = [t for t in loop["ticks"] if t["measured"]]

    per_tick = order_latencies(measured, os.path.join(topics, "orders"), q["j1"], q["t1"])
    done = [(vis - due, n) for due, n, vis in per_tick if vis is not None]
    orders_lat = weighted(done)
    returns = [(vis - exp) for exp, vis in return_latencies(q["t2"], q["t1"])
               if vis is not None and exp >= start]
    emitted = sum(n for _, n in done)
    last_vis = max((vis for _, _, vis in per_tick if vis is not None), default=None)
    first_due = min((due for due, _, _ in per_tick), default=None)
    t1_out = [q["t1"].visible[b] for b, files in q["t1"].outputs.items() if files]

    def avail(f):
        for n in ("j1", "t1", "t2"):
            b = q[n].producer.get(f)
            if b is not None:
                return q[n].visible.get(b)
        return mtime_ms(f) if os.path.exists(f) else None

    layer = {}
    for n in ("j1", "t1", "t2"):
        waits, hops = input_waits(q[n], avail, start)
        layer["sources.%s.wait_p50_ms" % n] = median(waits)
        layer["streaming.%s.hop_p50_ms" % n] = median(hops)
    backlog = 0
    for t in measured:
        f = os.path.join(topics, "orders", "orders_%06d.json" % t["tick"])
        b = q["j1"].consumed.get(f)
        if t["orders"] and (b is None or q["j1"].start.get(b, math.inf) > gen_end):
            backlog += t["orders"]
    layer["sources.orders.backlog_end"] = backlog
    layer["support.orders"] = len(orders_lat)
    layer["support.order_batches"] = len({vis for _, _, vis in per_tick if vis is not None})
    layer["support.returns"] = len(returns)

    e2e = {
        "order_latency_p50_ms": median(orders_lat),
        "order_latency_p95_ms": percentile(orders_lat, 95),
        "return_latency_p50_ms": median(returns),
        "sustained_rps": (emitted / ((last_vis - first_due) / 1000.0)
                          if last_vis is not None and last_vis > first_due else float("nan")),
        "drain_s": (max(t1_out) - gen_end) / 1000.0 if t1_out else float("nan"),
    }
    return e2e, layer


def progress_metrics(rows, since_ms):
    """Per-layer figures from StreamingQueryProgress rows
    (``{"query": name, "progress": json}``) of batches started at or
    after ``since_ms``."""
    by_q = {}
    for r in rows:
        p = json.loads(r["progress"]) if isinstance(r["progress"], str) else r["progress"]
        if iso_ms(p["timestamp"]) >= since_ms:
            by_q.setdefault(r["query"], []).append(p)
    out = {}
    for n, ps in sorted(by_q.items()):
        busy = [p for p in ps if p["numInputRows"] > 0]
        d = lambda key, xs=busy: median([p["durationMs"].get(key, 0) for p in xs])

        def ops(p, f):
            return sum(f(o) for o in p.get("stateOperators", []))

        out["streaming.%s.batches" % n] = len(ps)
        out["streaming.%s.empty_batches" % n] = len(ps) - len(busy)
        out["streaming.%s.trigger_p50_ms" % n] = d("triggerExecution")
        out["streaming.%s.query_planning_ms" % n] = d("queryPlanning")
        out["streaming.%s.wal_commit_ms" % n] = d("walCommit")
        out["streaming.%s.commit_offsets_ms" % n] = d("commitOffsets")
        out["streaming.%s.add_batch_ms" % n] = d("addBatch")
        out["sources.%s.latest_offset_ms" % n] = d("latestOffset")
        out["sources.%s.get_batch_ms" % n] = d("getBatch")
        out["state.%s.commit_task_sum_ms" % n] = median(
            [ops(p, lambda o: o.get("commitTimeMs", 0)) for p in busy])
        out["state.%s.file_sync_task_sum_ms" % n] = median(
            [ops(p, lambda o: o.get("customMetrics", {}).get("rocksdbCommitFileSyncLatencyMs", 0))
             for p in busy])
        out["state.%s.partitions" % n] = max(
            (ops(p, lambda o: o.get("numShufflePartitions", 0)) for p in ps), default=0)
        out["state.%s.rows" % n] = ops(ps[-1], lambda o: o.get("numRowsTotal", 0)) if ps else 0
        if n == "j1":
            rows_in = sum(p["numInputRows"] for p in busy)
            trig = sum(p["durationMs"].get("triggerExecution", 0) for p in ps)
            span = (max(iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)
                        for p in ps) - since_ms) if ps else 0
            out["streaming.j1.rows_per_batch"] = median([p["numInputRows"] for p in busy])
            out["streaming.j1.busy_frac"] = trig / span if span > 0 else float("nan")
            busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in busy)
            out["streaming.j1.rps"] = rows_in / (busy_ms / 1000.0) if busy_ms else float("nan")
    return out


def catalog_metrics(queries, stages, families):
    """End-to-end and per-layer catalog figures from the per-query times
    and the traced per-stage records."""
    ok = [x for x in queries if not x.get("error")]
    times = [x["construct_ms"] + x["execute_ms"] for x in ok]
    e2e = {
        "catalog_total_s": sum(times) / 1000.0,
        "catalog_geomean_ms": (math.exp(sum(math.log(max(t, 1e-3)) for t in times) / len(times))
                               if times else float("nan")),
    }
    layer = {"catalog.%s_s" % f: sum(x["construct_ms"] + x["execute_ms"] for x in ok
                                     if x["family"] == f) / 1000.0 for f in families}
    layer["queries.construct_s"] = sum(x["construct_ms"] for x in ok) / 1000.0
    layer["queries.execute_s"] = sum(x["execute_ms"] for x in ok) / 1000.0
    wall = sum(s["wall_ms"] for s in stages)
    layer.update({
        "engine.stages": len(stages),
        "engine.tasks": sum(s["tasks"] for s in stages),
        "engine.single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "engine.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "engine.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "engine.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 2 ** 20,
        "engine.spill_mb": sum(s["spill_bytes"] for s in stages) / 2 ** 20,
        "engine.max_task_share": sum(s["max_task_ms"] for s in stages) / wall if wall else 0.0,
    })
    return e2e, layer
