"""Statistics the benchmark reports, and the output digest it checks."""
import hashlib
import math
import statistics

# SparkEntry.goldenResult's columns, in the order the digest joins them.
GOLDEN_COLUMNS = ("doc_id", "document_type", "is_valid", "validation_error",
                  "ocr_cents", "record_md5", "spans_md5")


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartile_spread(xs):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles' default method)."""
    if len(xs) < 2:
        raise ValueError("quartile spread needs two samples")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def tail_percentile(n, beyond=10):
    """The highest whole percentile with at least `beyond` of `n` samples
    above it, or None when there are too few samples."""
    for p in range(99, 49, -1):
        if n * (100 - p) / 100 >= beyond:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def scaling_eff(rate_n, rate_1, threads=4):
    """Throughput at `threads` over `threads` times the one-thread rate."""
    return rate_n / (threads * rate_1)


def cell(v):
    """A golden cell as the string Spark's cast gives it; null is U+0000."""
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def digest(rows):
    """Order-independent digest of golden rows (tuples in GOLDEN_COLUMNS
    order): the row count and the exact sum of the first 60 bits of each
    row's md5. perfbench.Main.digest computes the same value in Spark."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.md5("\u0001".join(cell(v) for v in r).encode("utf-8"))
        total += int(h.hexdigest()[:15], 16)
        n += 1
    return f"{n}:{total}"
