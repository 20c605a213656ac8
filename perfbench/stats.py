"""Arithmetic of the benchmark: percentiles, self time, and which
micro-batch committed which input file. Pure functions, no I/O, unit
tested by test_stats.py."""
import json
import math
import os


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of nothing")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of nothing")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def highest_percentile_with_tail(n, min_beyond,
                                 candidates=(50, 75, 90, 95, 99, 99.9)):
    """The highest candidate percentile that leaves at least `min_beyond`
    of `n` samples strictly beyond it, or None when even the lowest
    candidate does not."""
    best = None
    for q in sorted(candidates):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            best = q
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Length of `span` not covered by any of its child spans (children
    are clipped to the span; overlapping children count once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def parse_source_log(text):
    """Entries of one file-source metadata log file (a batch file or a
    compacted one): a version line, then one JSON object per line with
    at least `path` and `batchId`."""
    out = []
    for line in text.splitlines()[1:]:
        line = line.strip()
        if line:
            out.append(json.loads(line))
    return out


def parse_offset_log(text):
    """Per-source offsets at the end of one query batch, from its file
    in the checkpoint's offset log: a version line, a metadata line,
    then one line per source in source order, `{"logOffset": n}` for a
    file source or `-` for a source with no offset yet."""
    out = []
    for line in text.splitlines()[2:]:
        line = line.strip()
        if line:
            out.append(None if line == "-" else json.loads(line)["logOffset"])
    return out


def file_batches(source_entries, offsets, roots):
    """Map each consumed file, as `<topic>/<name>`, to the query batch
    that committed it.

    `source_entries[i]` are the log entries of source i. An entry's
    `batchId` is that source's own log offset, which advances only in
    query batches where the source finds new files, so it falls behind
    the query's batch id once the source sits out a batch.
    `offsets[b][i]` is source i's log offset at the end of query batch
    b; a file logged at offset n belongs to the first query batch whose
    offset for its source reaches n. `roots` are the topic names files
    are published under."""
    out = {}
    order = sorted(offsets)
    for i, entries in source_entries.items():
        ends = [(offsets[b][i], b) for b in order
                if i < len(offsets[b]) and offsets[b][i] is not None]
        for ent in entries:
            parts = ent["path"].rstrip("/").split("/")
            if len(parts) < 2 or parts[-2] not in roots:
                continue
            n = int(ent["batchId"])
            b = next((b for end, b in ends if end >= n), None)
            if b is not None:
                key = parts[-2] + "/" + parts[-1]
                out[key] = min(b, out.get(key, b))
    return out


def _log_files(d):
    """The files of one checkpoint log directory, by name; hidden ones
    (checksums, files being written) are skipped."""
    return [n for n in sorted(os.listdir(d)) if not n.startswith(".")]


def read_source_logs(checkpoint_dir):
    """{source index: every entry of its file-source log}, under a
    query checkpoint."""
    out = {}
    base = os.path.join(checkpoint_dir, "sources")
    if not os.path.isdir(base):
        return out
    for src in sorted(os.listdir(base)):
        d = os.path.join(base, src)
        entries = out.setdefault(int(src), [])
        for name in _log_files(d):
            with open(os.path.join(d, name)) as f:
                entries.extend(parse_source_log(f.read()))
    return out


def read_offset_logs(checkpoint_dir):
    """{query batch id: per-source offsets at its end}, under a query
    checkpoint."""
    out = {}
    d = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(d):
        return out
    for name in _log_files(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                out[int(name)] = parse_offset_log(f.read())
    return out


def record_latencies(files, batch_of, batch_end_ms):
    """Per-record latency: from the time the generator was due to
    publish a file to the end of the micro-batch that committed it. A
    file's rows all share its latency. Returns (latencies, missing
    files)."""
    lat, missing = [], []
    for f in files:
        b = batch_of.get(f["path"])
        if b is None or b not in batch_end_ms:
            missing.append(f["path"])
            continue
        lat.extend([batch_end_ms[b] - f["due_ms"]] * f["rows"])
    return lat, missing


def backlog_max(files, batch_of, batch_start_ms):
    """Most rows published but not yet committed at any batch start."""
    worst = 0
    for b, start in batch_start_ms.items():
        pending = sum(f["rows"] for f in files
                      if f["published_ms"] <= start
                      and batch_of.get(f["path"], float("inf")) >= b)
        worst = max(worst, pending)
    return worst
