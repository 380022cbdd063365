"""The benchmark's own arithmetic, kept free of Spark so it can be unit-tested.

Every timing the benchmark reports is the median of the samples one run
takes (an even count averages the middle two).
"""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def failed_ops_ratio(failed: int, attempted: int) -> float:
    """Failed or wrong operations over attempted ones.  The base is the
    number of operations checked (pages, manifest rows, cluster rows),
    never the number that succeeded."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def rate(count: int, wall_s: float) -> float:
    """Items per second over a wall time."""
    if wall_s <= 0:
        raise ValueError("wall time must be positive")
    return count / wall_s


def exchange_s(salted_stage_s: float, unsalted_stage_s: float) -> float:
    """Cost of the salted exchange: the salted extraction stage minus the
    same stage without the repartition.  May be negative when the exchange
    buys more parallelism than it costs; reported as measured."""
    return salted_stage_s - unsalted_stage_s


def busy_ratio(kernel_busy_s: float, stage_s: float, cores: int) -> float:
    """Share of the stage's core-seconds spent inside the kernel."""
    if stage_s <= 0 or cores < 1:
        raise ValueError("stage_s and cores must be positive")
    return kernel_busy_s / (stage_s * cores)


def kernel_post_us(extract_us: float, decode_us: float, segment_us: float) -> float:
    """Kernel time outside decode and segmentation (split, classify, fuse,
    assemble): extract minus its two measured phases."""
    return extract_us - decode_us - segment_us


def write_manifest_s(run_extraction_s: float, salted_stage_s: float) -> float:
    """What run_extraction adds around the salted stage: the partitioned
    write, the manifest aggregate and its append, the committed-bucket read."""
    return run_extraction_s - salted_stage_s


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when nothing was attempted (den == 0)."""
    return num / den if den else 0.0
