"""Generate the FOURTH-decade probe fixtures (the r13 verdict's #4):

- /tmp/sf40: documents only, 400 tiles of sf0.1 (~2M docs) — one
  decade up from the 500k-doc /tmp/sf10 measurement ppjoin's artifacts
  were built on (well, 4x: the decade protocol names slopes per 10x by
  log-scaling whatever step the box affords).
- /tmp/sf30: events only, 300 tiles (~30M events) for
  sequence_scores (its one collected mu/sigma pass), 3x the sf10 events.

Distribution hygiene, continuing make_sf10.py's argument one decade
further: its vowel(5) x consonant(21) rotation gives 105 pairwise-
distinct classes — enough for 100 tiles, but 400 tiles would put ~4
EXACT copies of every document in each class and blow ppjoin's pair
count with cross-tile cliques (the /tmp/sf1 lesson, measured there at
~12x). Here the rotation splits the consonants into two independently
rotated halves: vowels by t mod 5, CONS[:10] by t mod 9, CONS[10:]
(11 letters) by t mod 11 — tiles collide only when t matches mod
lcm(5, 9, 11) = 495, so any tile count <= 495 is pairwise distinct.
Same length/case/word-boundary/char-class-preserving `translate` as
make_sf10, so within-tile dup/near-dup structure is preserved exactly
and organic pair counts scale LINEARLY with tiles.

Performance fixture only — correctness stays pinned at sf0.01.

Usage: python tools/make_r14_decade.py [docs_out events_out]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VOWELS = "aeiou"
CONS = "bcdfghjklmnpqrstvwxyz"
DOC_TILES = 400
EV_TILES = 300


def rotations(t: int) -> tuple[str, str]:
    """(from, to) translate alphabets for tile t — 495 distinct
    classes (lcm of 5, 9, 11)."""
    c1, c2 = CONS[:10], CONS[10:]
    rot_v = VOWELS[t % 5:] + VOWELS[: t % 5]
    rot_c1 = c1[t % 9:] + c1[: t % 9]
    rot_c2 = c2[t % 11:] + c2[: t % 11]
    frm = VOWELS + c1 + c2
    to = rot_v + rot_c1 + rot_c2
    return frm, to


def main() -> None:
    docs_out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf40"
    ev_out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf30"
    src = "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from amonaly_detection_in_time_series_data_spark.session import get_spark
    from amonaly_detection_in_time_series_data_spark.sources.readers import (
        load_table,
    )

    spark = get_spark(app_name="make_r14_decade")

    # sanity: the rotation class map really is injective over the tiles
    seen = set()
    for t in range(DOC_TILES):
        key = rotations(t)
        assert key not in seen, f"rotation collision at tile {t}"
        seen.add(key)

    DOC, EV = 1_000_000, 10_000_000

    def off(col, t, step):
        return (F.col(col) + F.lit(t * step)).alias(col)

    if not os.path.isdir(os.path.join(docs_out, "documents.parquet")):
        os.makedirs(docs_out, exist_ok=True)
        base = load_table(spark, src, "documents")
        parts = []
        for t in range(DOC_TILES):
            frm, to = rotations(t)
            text = F.translate(
                "text", frm + frm.upper(), to + to.upper()
            )
            parts.append(
                base.select(
                    off("doc_id", t, DOC), text.alias("text"), "lang",
                    "source", "n_chars",
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(64).write.mode("overwrite").parquet(
            os.path.join(docs_out, "documents.parquet")
        )
        print(f"documents: wrote {DOC_TILES} tiles -> {docs_out}",
              flush=True)
    else:
        print("documents fixture exists, skipping", flush=True)

    if not os.path.isdir(os.path.join(ev_out, "events.parquet")):
        os.makedirs(ev_out, exist_ok=True)
        base = load_table(spark, src, "events")
        parts = [
            base.select(
                off("event_id", t, EV), "ts", off("user_id", t, EV),
                "event_type", "value", "props",
            )
            for t in range(EV_TILES)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(96).write.mode("overwrite").parquet(
            os.path.join(ev_out, "events.parquet")
        )
        print(f"events: wrote {EV_TILES} tiles -> {ev_out}", flush=True)
    else:
        print("events fixture exists, skipping", flush=True)


if __name__ == "__main__":
    main()
