"""Pure helpers of the benchmark: summary statistics, call-site
attribution, the VmHWM parse and job-interval accounting. Kept free of I/O
so the unit tests in tests/ can pin them.

Every timing is reported as a median: a run measures far fewer than the
100 samples a p90 needs (NOTES.md)."""

import re
import statistics

# Source file of a job's call site -> the layer-qualified name used in
# metric names. Files not listed here count as "other" (the benchmark's
# own calls, query code, Spark internals).
CALL_SITE_LAYERS = {
    "CrawlRound": "crawl.CrawlRound",
    "Crawler": "crawl.Crawler",
    "Seen": "crawl.Seen",
    "Frontier": "crawl.Frontier",
    "SnapshotTable": "store.SnapshotTable",
    "DurableCrawler": "store.DurableCrawler",
}

_CALL_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+)\.(?:scala|java):\d+")
_VM_HWM = re.compile(r"^VmHWM:\s*(\d+)\s*kB\s*$")


def median(values):
    """Median of a non-empty sample; the mean of the two middle values
    when the sample has an even size."""
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def layer_of(call_site):
    """Layer-qualified source file of a Spark call site such as
    'collect at CrawlRound.scala:196', or 'other'."""
    m = _CALL_SITE.search(call_site or "")
    if not m:
        return "other"
    return CALL_SITE_LAYERS.get(m.group(1), "other")


def parse_vm_hwm_mb(line):
    """Peak resident set size in MiB from the VmHWM line of
    /proc/<pid>/status ('VmHWM:   123456 kB')."""
    m = _VM_HWM.match((line or "").strip())
    if not m:
        raise ValueError(f"not a VmHWM line: {line!r}")
    return int(m.group(1)) / 1024.0


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given (start, end)
    intervals — the time at least one job was running."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
