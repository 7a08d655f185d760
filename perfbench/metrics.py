"""Pure functions that turn the harness's raw records into metrics.

Everything here is deterministic and free of I/O so that the benchmark's
own tests can pin it.
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """A metric name: letters, digits, `_`, `.` and `-`, at most 64, not
    starting with a punctuation mark."""
    return bool(NAME_RE.match(name))


def percentile(values, q):
    """The q-th percentile (0-100) by linear interpolation between closest
    ranks; None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values, qs=(50, 90)):
    """Percentiles with the sample count they rest on."""
    return {"n": len(values), **{f"p{q}": percentile(values, q) for q in qs}}


def first_commits(sink_rows, commit_ms):
    """event_id -> commit time of the first micro-batch that delivered it.

    `sink_rows` are (event_id, batch_id) pairs read back from the sink and
    `commit_ms` maps batch_id to the batch's commit time."""
    first = {}
    for eid, batch in sink_rows:
        t = commit_ms.get(batch)
        if t is not None and (eid not in first or t < first[eid]):
            first[eid] = t
    return first


def latencies(sent, first):
    """Per record: commit time of its first delivery minus the time the
    generator was due to append it. `sent` holds (event_id, due_ms) of the
    original appends; records never committed are left out."""
    return [first[eid] - due for eid, due in sent if eid in first]


def max_lag(appends_ms, commits_ms):
    """Largest number of appended records not yet committed, sampled at each
    commit. `appends_ms` holds each record's append time and `commits_ms`
    each committed record's first commit time."""
    appends = sorted(appends_ms)
    commits = sorted(commits_ms)
    lag, a, c = 0, 0, 0
    for t in commits:
        while a < len(appends) and appends[a] <= t:
            a += 1
        while c < len(commits) and commits[c] <= t:
            c += 1
        lag = max(lag, a - c)
    return lag


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover.
    `spans` maps id -> (parent id, start, end)."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - covered(children.get(sid, []), a, b)
            for sid, (parent, a, b) in spans.items()}


class ReplayError(Exception):
    pass


def dedup_replays(messages):
    """Collapse at-least-once replay runs, as the reference's test oracle
    does: a message seen before must start a replay of the messages that
    followed it, in order, up to the newest; anything else is a reordering
    and raises ReplayError."""
    out, index, pos = [], {}, None
    for m in messages:
        if pos is not None and pos < len(out) and m == out[pos]:
            pos += 1
        elif m in index:
            pos = index[m] + 1
        elif pos is None or pos == len(out):
            index[m] = len(out)
            out.append(m)
            pos = None
        else:
            raise ReplayError(f"{m!r} arrived while replaying from {out[pos]!r}")
    if pos is not None and pos < len(out):
        raise ReplayError(f"replay stopped before {out[pos]!r}")
    return out


def group_by_key(pairs):
    """key -> messages in arrival order."""
    groups = {}
    for k, m in pairs:
        groups.setdefault(k, []).append(m)
    return groups


def ingest_mismatches(received, sent):
    """Keys whose de-duplicated received sequence differs from the sent one
    (`dedupAndGroupByKey(received) == groupByKey(sent)`), with the reason.
    Both inputs are (key, message) pairs in arrival order."""
    got, want = group_by_key(received), group_by_key(sent)
    bad = {}
    for k in set(got) | set(want):
        try:
            seq = dedup_replays(got.get(k, []))
        except ReplayError as e:
            bad[k] = str(e)
            continue
        if seq != want.get(k, []):
            missing = len(set(want.get(k, [])) - set(seq))
            bad[k] = f"{missing} missing, {len(seq)} received vs {len(want.get(k, []))} sent"
    return bad
