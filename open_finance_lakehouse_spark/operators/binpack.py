"""Bin-packing planner: group sub-target files into rewrite bins.

Pure driver-side arithmetic over ``(path, size)`` pairs — deliberately free
of any Spark dependency so the exact planner semantics have a hand-checkable
unit-test surface (the reference's JVM-free-mirror pattern,
/root/reference/ofl/streaming/windows.py:47-153: engine math mirrored and
exhaustively tested without a session).

Algorithm: first-fit-decreasing. Files smaller than
``target_bytes * small_file_ratio`` are compaction candidates; sorted
descending by size, each is placed in the first bin with room, else opens a
new bin. Bins holding fewer than ``min_files_per_bin`` files are discarded
(rewriting one small file buys nothing). Deterministic given the input list:
ties sort by path.

Scale note: the planner is O(candidates · bins) per partition, driver-side;
``compact.plan_compaction`` groups ``live_files()`` by partition and runs
it once per group.
"""

from __future__ import annotations

from dataclasses import dataclass, field

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024
DEFAULT_SMALL_FILE_RATIO = 0.75


@dataclass
class Bin:
    """One rewrite task: input files to be re-written as ~target-size output."""

    paths: list[str] = field(default_factory=list)
    total_bytes: int = 0
    total_records: int = 0

    def fits(self, size: int, target: int) -> bool:
        return self.total_bytes + size <= target

    def add(self, path: str, size: int, records: int) -> None:
        self.paths.append(path)
        self.total_bytes += size
        self.total_records += records


def plan_bins(
    files: list[tuple[str, int, int]],
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_ratio: float = DEFAULT_SMALL_FILE_RATIO,
    min_files_per_bin: int = 2,
) -> list[Bin]:
    """``files`` is [(path, file_size_bytes, record_count)] for ONE partition.

    Returns rewrite bins; files already at/above the small-file threshold are
    never touched (compaction must not churn well-sized files).
    """
    threshold = int(target_bytes * small_file_ratio)
    candidates = sorted(
        (f for f in files if f[1] < threshold),
        key=lambda f: (-f[1], f[0]),
    )
    bins: list[Bin] = []
    for path, size, records in candidates:
        placed = False
        for b in bins:
            if b.fits(size, target_bytes):
                b.add(path, size, records)
                placed = True
                break
        if not placed:
            b = Bin()
            b.add(path, size, records)
            bins.append(b)
    return [b for b in bins if len(b.paths) >= min_files_per_bin]


def records_per_file(total_bytes: int, total_records: int, target_bytes: int) -> int:
    """Output sizing: records per output file so files land near target size."""
    if total_records <= 0 or total_bytes <= 0:
        return max(total_records, 1)
    bytes_per_record = total_bytes / total_records
    return max(1, int(target_bytes / bytes_per_record))
