#!/usr/bin/env python3
"""Generate the optimization round's results tables FROM the committed
bench JSON artifacts (r15 VERDICT item 9: every number in the round
notes must be mechanically derived from the committed artifacts — the
r15 "certified wins" table quoted a non-shipped run and failed audit).

Usage: tools/round_notes.py <baseline.json> <shipped.json> [names...]
       tools/round_notes.py --check FILE

Prints markdown: aggregate table, a named-cells table (if names given),
and the full >10%-delta win/regression lists. Copy-paste into
OPTIMIZATION_r<k>.md verbatim.

Either artifact may be a bench contract line ({"queries": ...}) or a
run record that wraps one ({"n", "rc", "cpus", "parsed": {...}}, e.g.
BENCH_r16_c8.json).

--check FILE exits 1 if FILE still contains a PLACEHOLDER_ marker.
"""
import json
import sys


def load(path: str) -> dict:
    """The bench line in `path`, unwrapped from a run record."""
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError) as e:
        sys.exit(f"{path}: {e}")
    if isinstance(doc, dict) and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if not isinstance(doc, dict) or not isinstance(doc.get("queries"), dict):
        sys.exit(f"{path}: no per-query 'queries' map (not a bench line or run record)")
    return doc


def check(path: str) -> int:
    with open(path) as f:
        hits = [n for n, line in enumerate(f, 1) if "PLACEHOLDER_" in line]
    for n in hits:
        print(f"{path}:{n}: PLACEHOLDER_ marker left", file=sys.stderr)
    return 1 if hits else 0


def main() -> None:
    if sys.argv[1:2] == ["--check"]:
        if len(sys.argv) != 3:
            sys.exit("usage: tools/round_notes.py --check FILE")
        sys.exit(check(sys.argv[2]))
    base_p, ship_p = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    base = load(base_p)
    ship = load(ship_p)
    qb, qs = base["queries"], ship["queries"]
    sb, ss = base.get("queries_spread", {}), ship.get("queries_spread", {})
    common = [k for k in qb if k in qs and qb[k] >= 0 and qs[k] >= 0]

    print(f"<!-- generated by tools/round_notes.py {base_p} {ship_p} -->")
    print()
    print("| Aggregate | baseline | shipped |")
    print("|---|---|---|")
    tb, ts_ = sum(qb[k] for k in common), sum(qs[k] for k in common)
    print(f"| Sweep total ({len(common)} common cells) | {tb:.2f} s "
          f"| **{ts_:.2f} s ({(ts_ / tb - 1) * 100:+.1f}%)** |")
    import math
    geo = math.exp(sum(math.log(max(qb[k], 0.01) / max(qs[k], 0.01))
                       for k in common) / len(common))
    print(f"| Per-cell geomean speedup | — | {geo:.3f} |")
    for key in ("e2e_pipeline_rows_per_sec", "parquet_sink_rows_per_sec",
                "validate_kernel_only_gb_per_sec_core",
                "validate_columnar_gb_per_sec_core",
                "bpe_encode_tokens_per_sec"):
        b = base.get("derived", {}).get(key)
        s = ship.get("derived", {}).get(key)
        if b is not None and s is not None:
            print(f"| {key} | {b} | {s} |")
    fpb = base.get("testdata_fingerprint")
    fps = ship.get("testdata_fingerprint")
    if fpb or fps:
        same = "same testdata" if fpb == fps else "**DIFFERENT testdata**"
        print(f"| testdata fingerprint | {fpb} | {fps} ({same}) |")

    def table(keys, title):
        if not keys:
            return
        print(f"\n{title}\n")
        print("| cell | baseline [min,med,max] | shipped [min,med,max] | delta |")
        print("|---|---|---|---|")
        for k in keys:
            d = (qs[k] / qb[k] - 1) * 100 if qb[k] > 0 else float("nan")
            print(f"| {k} | {qb[k]:.2f} {sb.get(k)} | {qs[k]:.2f} {ss.get(k)} "
                  f"| {d:+.0f}% |")

    if names:
        table([n for n in names if n in common], "Named cells:")
    wins = sorted((k for k in common if qs[k] < qb[k] * 0.9 and qb[k] - qs[k] > 0.2),
                  key=lambda k: qs[k] - qb[k])
    regs = sorted((k for k in common if qs[k] > qb[k] * 1.1 and qs[k] - qb[k] > 0.2),
                  key=lambda k: qb[k] - qs[k])
    table(wins, f"Wins >10% and >0.2s ({len(wins)} cells):")
    table(regs, f"Regressions >10% and >0.2s ({len(regs)} cells):")
    dropped = [k for k in qb if k not in qs]
    added = [k for k in qs if k not in qb]
    if dropped:
        print(f"\nDROPPED cells (must be empty): {dropped}")
    if added:
        print(f"\nAdded cells: {added}")


if __name__ == "__main__":
    main()
