"""Per-stage cost attribution for pipeline_data_release (r14 judge
item #4): the capstone is the headline's largest entry (~11 s at
sf0.1) and one opaque number — a stage-level regression would hide
inside it. This probe times each stage frame of
registry.pipelines.release_stage_frames end-to-end (noop sink) in pipeline
order and records per-stage wall + shuffle-write deltas.

Reading the numbers: the EAGER PINS (the cleaned-corpus boundary,
admitted6, mh_keep, c9, the fuzzy-decon minhash wide frame, c10) all
materialize while release_stage_frames() is CALLED — that cost is the
``build_pins_sec`` row, and each stage's own row then measures only
the work between the pinned boundaries and that stage's output (which
is why the stage rows are small against the capstone's bench number:
the bench pays build+pins+final in one go). A stage whose row grows
across rounds without its code changing is the regression signal;
shuffle bytes per stage are plan-stable like the main ledger.

Usage: python tools/pdr_stage_probe.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from perfbench.status import StatusReader  # noqa: E402
from stockpy_spark.session import get_spark  # noqa: E402

STAGES = [
    "salted",      # web-page fixture salt (narrow map + self-join)
    "clean",       # line dedup -> boilerplate -> normalize (PINNED)
    "train",       # gopher gate + eval split
    "evalc",
    "admitted6",   # NB gate top-128 (PINNED)
    "url_keep",    # canonical-URL dedup
    "mh_keep",     # MinHash-LSH dedup (PINNED)
    "c9",          # exact 5-gram decontamination (PINNED)
    "c10",         # fuzzy MinHash decontamination (PINNED)
    "capd",        # calibration + mixture cap
    "final",       # shard shuffle + ordered packing
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("pdr_stage_probe")
    spark.sparkContext.setLogLevel("ERROR")

    from stockpy_spark.registry import QUERIES
    from stockpy_spark.registry.pipelines import release_stage_frames

    reader = StatusReader(spark)
    # warm scans + JVM (not timed)
    QUERIES["a2_count_star"](spark, sf_dir).collect()

    def shuffle_mb(mark) -> float:
        return round(reader.window(mark).totals()["shuffle_write_mb"], 2)

    # per-pin attribution: the eager pins fire inside
    # release_stage_frames in pipeline order (clean, admitted6,
    # mh_keep, c9, the fuzzy-decon minhash wide frame, c10) — shim the
    # module's pin reference so each materialization is timed
    # individually. Pin order is positional; names follow the source.
    import stockpy_spark.registry.pipelines as pipelines_mod

    pin_names = ["clean", "admitted6", "mh_keep", "c9", "fuzzy_wide", "c10"]
    pin_rows: list[dict] = []
    real_pin = pipelines_mod.pin

    def timed_pin(df):
        mark = reader.mark()
        t = time.time()
        out = real_pin(df)
        pin_rows.append(
            {
                "pin": pin_names[len(pin_rows)]
                if len(pin_rows) < len(pin_names)
                else f"pin_{len(pin_rows)}",
                "wall_s": round(time.time() - t, 2),
                "shuffle_mb": shuffle_mb(mark),
            }
        )
        return out

    mark = reader.mark()
    t0 = time.time()
    pipelines_mod.pin = timed_pin
    try:
        frames = release_stage_frames(spark, sf_dir)
    finally:
        pipelines_mod.pin = real_pin
    build = {
        "wall_s": round(time.time() - t0, 2),
        "shuffle_mb": shuffle_mb(mark),
        "pins": pin_rows,
    }

    out = {}
    for name in STAGES:
        mark = reader.mark()
        t0 = time.time()
        frames[name].write.format("noop").mode("overwrite").save()
        out[name] = {
            "wall_s": round(time.time() - t0, 2),
            "shuffle_mb": shuffle_mb(mark),
        }

    print(
        json.dumps(
            {
                "probe": "pdr_stages",
                "sf_dir": sf_dir,
                "build_pins": build,
                "stages": out,
                "stage_wall_total_s": round(
                    sum(s["wall_s"] for s in out.values()), 2
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
