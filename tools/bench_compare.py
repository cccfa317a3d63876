"""Dual-normalized cross-round bench read (r13, the r12 verdict's #8):
compare two bench artifacts per query, normalizing by BOTH calibration
probes — `calibration_s` (CPU/codegen-flavored) and `calibration_io_s`
(shuffle/IO-flavored) — and report the spread between the two
normalizations. The investigation trigger remains the PLAN FINGERPRINT
(SCALING §11/§15): a changed fingerprint is a code signal regardless
of normalized residuals; an unchanged fingerprint makes any residual
host weather by the repo's own protocol.

Usage: python tools/bench_compare.py OLD.json NEW.json [detail.json]
(detail = BENCH_detail.json of the NEW run, for fingerprints; the OLD
run's fingerprints are read from BENCH_detail history only if passed
as a 4th arg — otherwise the fp column shows NEW-side presence only.)
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> tuple[dict, dict]:
    """One bench artifact and its plans map.

    Accepts bench.py's captured stdout (the artifact's JSON line, then
    the trailer line: only the first JSON value is read), or a
    BENCH_r{N}.json wrapper ({'parsed': ..., 'tail': ...}),
    whose plans map is pulled out of the tail text when present. The
    tail's plans value is parsed with raw_decode from the found offset
    (r13 ADVICE) — a brace-bounded regex can't match a map whose values
    contain nested braces."""
    with open(path) as f:
        text = f.read()
    d, _ = json.JSONDecoder().raw_decode(text, len(text) - len(text.lstrip()))
    plans = d.get("plans", {})
    if "parsed" in d:
        tail = d.get("tail", "")
        key = '"plans":'
        at = tail.find(key)
        if at >= 0:
            start = at + len(key)
            while start < len(tail) and tail[start] in " \t\r\n":
                start += 1
            try:
                plans, _ = json.JSONDecoder().raw_decode(tail, start)
            except ValueError:
                plans = {}
        d = d["parsed"]
    return d, plans


def main() -> None:
    old_p, new_p = sys.argv[1], sys.argv[2]
    detail_p = sys.argv[3] if len(sys.argv) > 3 else None

    old, old_plans = load(old_p)
    new, new_plans = load(new_p)
    if detail_p:
        detail = json.load(open(detail_p))
        new_plans = new_plans or detail.get("plans", {})

    cpu_r = new.get("calibration_s", 0) / max(old.get("calibration_s", 1), 1e-9)
    io_r = new.get("calibration_io_s", 0) / max(
        old.get("calibration_io_s", 1), 1e-9
    )
    print(
        f"calibration_s {old.get('calibration_s')} -> "
        f"{new.get('calibration_s')} (host x{cpu_r:.2f}); "
        f"calibration_io_s {old.get('calibration_io_s')} -> "
        f"{new.get('calibration_io_s')} (host x{io_r:.2f})"
    )
    print(
        f"headline {old['value']} -> {new['value']} s "
        f"(raw x{new['value'] / old['value']:.2f}; "
        f"cpu-normalized x{new['value'] / old['value'] / cpu_r:.2f}; "
        f"io-normalized x{new['value'] / old['value'] / io_r:.2f})"
    )
    print(
        "\n| query | old s | new s | raw | /cpu | /io | norm spread | fp |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for q, t_old in sorted(old.get("queries", {}).items()):
        t_new = new.get("queries", {}).get(q)
        if t_new is None:
            continue
        raw = t_new / t_old
        n_cpu, n_io = raw / cpu_r, raw / io_r
        fp_same = (
            "same"
            if old_plans.get(q) and old_plans.get(q) == new_plans.get(q)
            else ("CHANGED" if old_plans.get(q) and new_plans.get(q) else "?")
        )
        print(
            f"| {q} | {t_old:.3f} | {t_new:.3f} | x{raw:.2f} "
            f"| x{n_cpu:.2f} | x{n_io:.2f} "
            f"| {abs(n_cpu - n_io):.2f} | {fp_same} |"
        )


if __name__ == "__main__":
    main()
