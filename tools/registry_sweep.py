"""Full-registry latency sweep (VERDICT r7 item 6): one timed run of
EVERY bench_queries() entry at sf0.01, so regressions in the ~two
thirds of the registry that the headline bench never times are visible
round-over-round.

One run per entry keeps the sweep cheap (~3-4 min); that makes single
numbers noisy, so the alert logic is deliberately coarse — an entry
only flags when it is BOTH >2.5x its recorded baseline AND >0.5 s
absolute above it (the VM's noise floor swallows anything smaller;
bench.py's min-of-3 is the precise instrument, this is the tripwire).

Usage:
    python tools/registry_sweep.py [sf_dir] [out_json]
        writes {name: seconds} plus alerts vs docs/SWEEP_BASELINE.json
    python tools/registry_sweep.py --rebaseline [sf_dir]
        overwrites the baseline with a fresh sweep
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from z316_sales_data_pipeline_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
BASELINE = REPO / "docs" / "SWEEP_BASELINE.json"
RATIO, DELTA = 2.5, 0.5


def sweep(sf_dir: str) -> dict[str, float]:
    spark = get_spark("registry_sweep")
    # Arrow + embeddings-scan warmup: the FIRST Arrow-batched query of
    # a session pays ~5-7 s of one-time setup (pinned r14 — the
    # knn_graph false alert: 2.1 s one-shot vs 0.48 s warm min-of-5,
    # purely because the sample-head rotation moved which entry ran
    # first). One throwaway applyInPandas over one embeddings row
    # charges that cost to nobody, so one-shot numbers stay
    # position-independent across head rotations.
    import pandas as _pd

    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(1)
    emb1.groupBy("label").applyInPandas(
        lambda pdf: _pd.DataFrame({"n": [len(pdf)]}), "n long"
    ).count()
    out: dict[str, float] = {}
    for name, fn in entrymod.bench_queries().items():
        t0 = time.time()
        fn(spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        print(f"  {name}: {out[name]:.2f}s", file=sys.stderr)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--rebaseline"]
    rebaseline = "--rebaseline" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_path = Path(args[1]) if len(args) > 1 else None

    t0 = time.time()
    times = sweep(sf_dir)
    total = round(time.time() - t0, 1)

    if rebaseline or not BASELINE.exists():
        BASELINE.write_text(json.dumps(times, indent=1, sort_keys=True) + "\n")
        print(json.dumps({"rebaselined": True, "n": len(times), "total_s": total}))
        return

    base = json.loads(BASELINE.read_text())
    alerts = {
        n: {"now": t, "baseline": base[n]}
        for n, t in times.items()
        if n in base and t > base[n] * RATIO and t - base[n] > DELTA
    }
    report = {
        "sf_dir": sf_dir,
        "n": len(times),
        "total_s": total,
        "alerts": alerts,
        "new_entries": sorted(set(times) - set(base)),
        "times": times,
    }
    line = json.dumps(report)
    if out_path:
        out_path.write_text(line + "\n")
    print(line)
    if alerts:
        # Gate, not a report (VERDICT r8 item 4): an alert fails the
        # battery run. Triage path: rerun the named queries (noise on
        # this VM is real — bench.py's min-of-3 is the precise
        # instrument), write the triage note in the round doc, then
        # either fix or --rebaseline with the note as justification.
        print(
            f"SWEEP GATE FAILED: {len(alerts)} untriaged alert(s): "
            + ", ".join(sorted(alerts)),
            file=sys.stderr,
        )
        sys.exit(1)


# ---------------------------------------------------------------------------
# Static precision lint (VERDICT r10 item 3 → r11): the RUNTIME
# round-budget gate in check_correctness.py only sees realized values —
# cube_agg's round(avg(double), 4) sat below its radar and was found by
# eye. This lint closes the class STATICALLY: it extracts every
# balanced `round(...)` span from BOTH twins (the analyzed Spark plan
# string and the oracle SQL) and flags a round applied to a division or
# avg at COARSE digits (< 6). Digits >= 6 is the repo's sanctioned
# comparison grain (gotcha #5: shared-verbatim float expressions are
# compared at round-6; a 1-ulp input difference at digit >= 6 is the
# class the repr-normalizing harness + round-budget gate already
# police), and rounds of pure-integer arithmetic carry no float
# precision at all. Anything coarser must be an exact integer grain —
# or carry an ALLOWLIST entry with the triage note.
#
# Usage:
#     python tools/registry_sweep.py --lint [sf_dir]
# Exit 1 on any non-allowlisted flag.

# entry -> triage note for accepted coarse rounds (prefer converting to
# integer grains; acceptance requires the round to be REFERENCE
# SEMANTICS mirrored verbatim in both twins)
LINT_ALLOWLIST: dict[str, str] = {
    "f5_discount_parse": (
        "round-4 IS the reference's discount semantics (SURVEY §2 F5: "
        "percent-or-absolute with clamp); the rounded expression is "
        "shared verbatim across both twins, so the engines round the "
        "bit-identical double — divergence needs an exact-.5 landing "
        "at digit 4 of a 2dp x percent product, absent by construction "
        "in the BRL-grain data; driver-attested r10+judge."
    ),
    "itens_fact": (
        "round-4 mirrors the reference's item gross-up/allocation math "
        "(SURVEY §2 F6/F7); shared-verbatim expressions in both twins "
        "(same IEEE inputs), driver-attested r10+judge. Replacing the "
        "spec's round would break reference parity."
    ),
    "pedidos_fact": (
        "same spec round as f5_discount_parse (order-grain fact, "
        "SURVEY §2 E1-E5); shared-verbatim in both twins, "
        "driver-attested r10+judge."
    ),
}


def _round_spans(text: str) -> list[str]:
    """Balanced-paren `round(...)` spans, case-insensitive, skipping
    identifiers that merely end in 'round' (e.g. background)."""
    import re

    spans = []
    for m in re.finditer(r"(?<![a-z_])round\s*\(", text, re.IGNORECASE):
        depth = 0
        for k in range(m.end() - 1, len(text)):
            if text[k] == "(":
                depth += 1
            elif text[k] == ")":
                depth -= 1
                if depth == 0:
                    spans.append(text[m.start() : k + 1])
                    break
        else:  # unbalanced (plan string truncation) — keep what we saw
            spans.append(text[m.start() :])
    return spans


def _span_digits(span: str) -> int | None:
    """The round's digit count: last top-level comma argument."""
    import re

    inner = span[span.find("(") + 1 : span.rfind(")")]
    depth, last_comma = 0, None
    for i, ch in enumerate(inner):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            last_comma = i
    if last_comma is None:
        return 0  # round(x) == round to integer, the coarsest
    tail = inner[last_comma + 1 :].strip()
    m = re.match(r"^-?\d+$", tail)
    return int(m.group()) if m else None


def _span_suspicious(span: str) -> bool:
    """Division or avg anywhere inside the rounded expression."""
    inner = span[span.find("(") + 1 : span.rfind(")")].lower()
    return ("/" in inner) or ("avg(" in inner) or ("mean(" in inner)


def lint(sf_dir: str) -> int:
    spark = get_spark("registry_lint")
    oracles = entrymod.oracle_sql()
    flags: dict[str, list[str]] = {}
    infos = 0
    for name, fn in entrymod.queries().items():
        sides = {"oracle": oracles.get(name, "")}
        try:
            df = fn(spark, sf_dir)
            sides["plan"] = df._jdf.queryExecution().analyzed().toString()
        except Exception as exc:  # build failure is its own loud signal
            flags.setdefault(name, []).append(f"plan build failed: {exc}")
            continue
        for side, text in sides.items():
            for span in _round_spans(text):
                if not _span_suspicious(span):
                    continue
                d = _span_digits(span)
                if d is not None and d >= 6:
                    infos += 1  # sanctioned comparison grain
                    continue
                if name in LINT_ALLOWLIST:
                    infos += 1
                    continue
                flags.setdefault(name, []).append(
                    f"{side}: coarse round (digits={d}) over a division/avg: "
                    + " ".join(span.split())[:160]
                )
    print(
        json.dumps(
            {
                "lint": "round-of-division",
                "n_entries": len(oracles),
                "flags": flags,
                "n_sanctioned_round6_or_allowlisted": infos,
            }
        )
    )
    if flags:
        print(
            f"LINT GATE FAILED: {len(flags)} entr(ies) with coarse rounded "
            "float divisions: " + ", ".join(sorted(flags)),
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    if "--lint" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--lint"]
        sys.exit(lint(args[0] if args else "/root/testdata/sf0.001"))
    main()
