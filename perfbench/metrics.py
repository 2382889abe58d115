"""Pure metric computations for the benchmark (no Spark, no I/O).

Kept apart from run.py so the rules are unit-tested on their own:
percentiles, the interval union behind the driver gap, and the
close-to-sink latency of windowed documents.
"""
import bisect
import math
import statistics


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of all
    samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(samples):
    """Middle value; the mean of the two middle values for an even count."""
    if not samples:
        raise ValueError("no samples")
    return statistics.median(samples)


def supported_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the median has fewer than ten."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def interval_union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e < s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(start, end, job_intervals):
    """Wall time of [start, end] that no job of the call was running in."""
    clipped = [(max(s, start), min(e, end)) for s, e in job_intervals]
    return (end - start) - interval_union_ms([c for c in clipped if c[1] > c[0]])


class ClosableDue:
    """When each window became closable in an open-loop schedule.

    A tumbling window ending at `end` is closable once an event with event
    time >= end + delay has been sent: that event moves the watermark past
    the window end. The clock starts at the due time of the first such
    event, which leaves window length and watermark delay out of the
    latency but keeps queue wait and the extra batch the watermark needs.
    """

    def __init__(self, events, delay_ms):
        # events: (due_ms, event_ms); suffix minimum of due over event time
        evs = sorted(events, key=lambda de: de[1])
        self._times = [e for _, e in evs]
        self._min_due = [0] * len(evs)
        lo = math.inf
        for i in range(len(evs) - 1, -1, -1):
            lo = min(lo, evs[i][0])
            self._min_due[i] = lo
        self._delay = delay_ms

    def __call__(self, window_end_ms):
        i = bisect.bisect_left(self._times, window_end_ms + self._delay)
        return self._min_due[i] if i < len(self._times) else None


def close_to_sink_samples(sink_windows, sink_returns, closable_due, due_from=-math.inf,
                          due_to=math.inf):
    """One latency sample (ms) per emitted document: the time from the due
    time of the event that made its window closable to the return of the
    sink write that carried it.

    sink_windows: (batch_id, window_end_ms, documents, events) rows
    sink_returns: batch_id -> wall ms at which the sink write returned
    closable_due: window_end_ms -> due ms, or None if never closable
    Only windows whose closable time lies in [due_from, due_to) count.
    """
    out = []
    for batch, end, docs, _ in sink_windows:
        due = closable_due(end)
        if due is None or not (due_from <= due < due_to) or batch not in sink_returns:
            continue
        out.extend([sink_returns[batch] - due] * docs)
    return out
