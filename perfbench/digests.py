"""Order-insensitive result digests, and the tool that records them.

A digest is the SHA-256 of a result's rows, each rendered column by column
(columns sorted by name, floats by ``repr`` so every bit counts, like the
DuckDB oracle's repr-strict comparison) and the rendered rows sorted.

``digests.json`` holds one digest per operation and scale. They are
recorded only from results that ``oracle_check.check_frame`` matched
against the DuckDB oracle:

    python3 perfbench/digests.py --sf 0.01
    python3 perfbench/digests.py --sf 0.001
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
from pathlib import Path

DIGESTS = Path(__file__).resolve().parent / "digests.json"
# The stream's alert set is checked against its batch twin's digest.
STREAM_TWIN = "fraud_alert_stream"


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    try:
        if v != v:  # pandas NA / NaT
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def result_digest(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def load(sf: str) -> dict[str, str]:
    return json.loads(DIGESTS.read_text())[f"sf{sf}"]


def record(sf: str) -> int:
    """Run every operation's query once, verify it against the oracle, and
    store its digest. Returns the number of mismatches (nothing is stored
    for a scale with any mismatch)."""
    import workloads

    work = workloads.ROOT / ".perfbench" / "work" / f"digests-{os.getpid()}"
    from host import cpus

    workloads.prepare_environment(work, cpus())
    sys.path.insert(0, str(workloads.ROOT))
    from telecom_dataengineering_pipeline_spark.oracle_check import check_frame
    from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

    spark = workloads.start_session()
    sf_dir = workloads.data_dir(sf)
    names = [n for ops in workloads.WORKLOADS.values() for n in ops if n in REGISTRY] + [STREAM_TWIN]
    out: dict[str, str] = {}
    bad = 0
    try:
        for name in names:
            spec = REGISTRY[name]
            verdict = check_frame(spec.fn(spark, sf_dir), spec.oracle, sf_dir, name)
            pdf = spec.fn(spark, sf_dir).toPandas()
            out[name] = result_digest(pdf)
            print(f"{'OK  ' if verdict.ok else 'FAIL'} {name}: {verdict.detail} {out[name][:24]}", flush=True)
            bad += 0 if verdict.ok else 1
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad == 0:
        all_digests = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
        all_digests[f"sf{sf}"] = out
        DIGESTS.write_text(json.dumps(all_digests, indent=1, sort_keys=True) + "\n")
    return bad


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"])
    sys.exit(1 if record(ap.parse_args().sf) else 0)
