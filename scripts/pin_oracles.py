"""Regenerate data_quality_spark/pinned_oracles.py.

Pins the end-to-end **sf0.01** outputs of the procedurally-deterministic
contract queries (MFB match-merge, IVF top-k, the flagship quality
pipeline, the A-Res weighted-reservoir id set) as VALUES oracles.  Run
after any INTENDED algorithm change; the driver hash gate then catches
unintended regressions in the distributed plumbing.

Parallelism-invariance is GATED, not assumed: before writing anything,
every pinned query is executed under BOTH local[4] and local[32] (two
sequential SparkSessions) and the sorted row sets must be identical —
a mismatch aborts the pin with a diff.  The pin itself is taken from the
local[32] run.

`queries.py` imports every pin from `pinned_oracles` by name, and this
script imports `queries`: a NEW pinned query first needs a placeholder
constant (`NAME_SQL = ""`) in pinned_oracles.py, which this script then
overwrites.

NOTE: the pins are sf0.01 snapshots (the scale the driver gate runs at).
If the gate ever runs at a different sf, regenerate with
SPARK_GRAFT_PIN_SF_DIR pointing at that directory.

Usage: python scripts/pin_oracles.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_PIN_SF_DIR", "/root/testdata/sf0.01")

PINNED = [
    ("ann_ivf_top3", ["query_id", "neighbor_id", "rank"]),
    (
        "mfb_clusters_parts",
        [
            "block",
            "group_id",
            "group_size",
            "member_ids",
            "p_name_survivor",
            "p_retailprice_survivor",
        ],
    ),
    (
        "quality_pipeline_docs",
        ["url", "lang", "lang_detected", "ppl", "keep", "reasons", "scrub_md5"],
    ),
    ("weighted_reservoir_orders", ["o_orderkey"]),
]

HEADER = '''"""Pinned expected outputs for procedurally-deterministic contract queries.

These are REGRESSION oracles, not independent recomputations: the MFB
match-merge queue, the IVF coarse quantizer, the flagship pipeline's
per-row signals (heuristic langid, char-bigram LM perplexity,
compiled-regex scrub — pure functions of the text), and the A-Res
weighted-reservoir selection are deterministic given the fixed sf0.01
input, verified invariant across parallelism levels (local[4] vs
local[32] produce byte-identical rows; gated by scripts/pin_oracles.py
at generation time).  The ALGORITHMIC ground truth lives in the unit
suites (tests/test_mfb.py scenario vectors mirroring
SwooshRecordGroupingTest, tests/test_ivf_sessionize.py recall checks,
tests/oracle.py + tests/test_pipeline.py keep/drop-F1 and byte-level
scrub gates); this module pins the end-to-end distributed output so the
driver hash gate catches any regression in the Spark plumbing.

MEDIA_FEATURES_SQL is different in kind: it is the PURE-PYTHON spec
replay (hashlib over synth_media_spec payloads — no Spark involved)
frozen at pin time, so an accidental edit to the shared payload spec
fails parity instead of silently regenerating both sides.

sf DEPENDENCY: these constants encode /root/testdata/sf0.01 outputs.  A
driver gate run at a different scale factor must regenerate them via
scripts/pin_oracles.py (SPARK_GRAFT_PIN_SF_DIR=<dir>), not treat the
mismatch as a code regression.  Generated by scripts/pin_oracles.py.
"""
'''


def sql_lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    raise TypeError(type(v))


def _collect_all(master: str, shuffle_parts: int) -> dict[str, list]:
    """Run every pinned query under one session; return sorted row tuples."""
    from pyspark.sql import SparkSession

    from data_quality_spark.queries import QUERIES

    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for q, cols in PINNED:
        df = QUERIES[q](spark, SF_DIR)
        out[q] = sorted(
            (tuple(r[c] for c in cols) for r in df.collect()),
            key=lambda t: tuple(str(x) for x in t),
        )
    spark.stop()
    return out


def main() -> None:
    low = _collect_all("local[4]", 4)
    high = _collect_all("local[32]", 32)
    for q, _cols in PINNED:
        if low[q] != high[q]:
            diffs = [
                (a, b) for a, b in zip(low[q], high[q]) if a != b
            ][:5]
            sys.exit(
                f"PARALLELISM-VARIANT output for {q}: local[4] != local[32]; "
                f"first diffs: {diffs!r} — NOT pinning."
            )
        print(f"invariance OK: {q} ({len(high[q])} rows, local[4] == local[32])")
    out = [HEADER]
    for q, cols in PINNED:
        vals = ",\n  ".join(
            "(" + ", ".join(sql_lit(v) for v in row) + ")" for row in high[q]
        )
        name = q.upper() + "_SQL"
        colspec = ", ".join(cols)
        out.append(f'{name} = """')
        out.append(f"    SELECT * FROM (VALUES\n  {vals}\n    ) AS t({colspec})")
        out.append('"""')
        out.append("")
    # Spec-replay pin (pure Python, no Spark run): freezes the media oracle
    # text so a change to the shared payload spec (synth_media_spec /
    # sniff_mime) fails parity instead of silently regenerating both sides.
    from data_quality_spark.queries import _media_replay_sql

    out.append("# Frozen pure-Python spec replay (see queries._media_replay_sql).")
    out.append('MEDIA_FEATURES_SQL = """')
    out.append(_media_replay_sql())
    out.append('"""')
    out.append("")
    with open("data_quality_spark/pinned_oracles.py", "w") as f:
        f.write("\n".join(out))
    print("wrote data_quality_spark/pinned_oracles.py")


if __name__ == "__main__":
    main()
