"""Host contract: what a result was measured on, and the refusal to compare
results measured on different hosts or scales.

Every result records ``cpus``, the scale factor, the Spark version, the git
commit (when the checkout is a git repository) and a hash of the engine's
source, the seed, ``benchlib.noise_probe()`` readings taken at start and
end, and the CPU steal share over the timed passes. Two results whose
``cpus`` or ``sf`` differ measure different things, so comparing them is
refused.

    python3 perfbench/host.py compare BASE.json NEW.json

prints each end-to-end metric's change and exits 2 on a host mismatch.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

# Keys that must agree before two results may be compared.
CONTRACT_KEYS = ("cpus", "sf")


class HostMismatch(ValueError):
    pass


def cpus() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def source_sha(root: Path) -> str:
    """Hash of the engine package's Python sources, so results from a
    checkout without git history still name the code they measured."""
    h = hashlib.sha256()
    pkg = root / "telecom_dataengineering_pipeline_spark"
    for path in sorted(pkg.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def contract(root: Path, sf: str, seed: int, spark_version: str) -> dict:
    return {
        "cpus": cpus(),
        "sf": sf,
        "spark_version": spark_version,
        "git_commit": git_commit(root),
        "source_sha": source_sha(root),
        "seed": seed,
    }


def cpu_ticks() -> list[int] | None:
    """The machine's CPU time counters (``/proc/stat``), or None where the
    kernel has none."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """The share of the CPU time this machine asked for that its hypervisor
    gave to other guests between two ``cpu_ticks()`` readings: steal over
    user + nice + system + steal. A timed window with a high share ran on a
    contended host."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[7]
    return d[7] / busy if busy else 0.0


def check_comparable(base: dict, new: dict) -> None:
    """Raise ``HostMismatch`` unless both results share the contract keys."""
    diffs = [
        f"{k}: {base['host'].get(k)!r} vs {new['host'].get(k)!r}"
        for k in CONTRACT_KEYS
        if base["host"].get(k) != new["host"].get(k)
    ]
    if diffs:
        raise HostMismatch("results measured on different hosts or scales: " + "; ".join(diffs))


def compare(base: dict, new: dict) -> list[str]:
    """One line per end-to-end metric: base, new and relative change."""
    check_comparable(base, new)
    lines = []
    for name, b in base["end_to_end"].items():
        n = new["end_to_end"].get(name)
        if n is None:
            continue
        change = (n["value"] - b["value"]) / b["value"] if b["value"] else float("nan")
        lines.append(f"{name:>14} {b['value']:12.4f} -> {n['value']:12.4f} {b['unit']:<4} {change:+.1%}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 3 or argv[0] != "compare":
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.loads(Path(p).read_text()) for p in argv[1:])
    try:
        lines = compare(base, new)
    except HostMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
