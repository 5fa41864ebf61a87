"""GENERATE the driver-window rotation (_GATE_HEAD/_GATE_TAIL in
pkg/registry.py) instead of hand-writing it — r8 VERDICT ask #7: the
hand-maintained bookkeeping comment went stale against round growth
twice (r7 and r8), because mid-round additions were anchor-inserted
without regenerating the text. This script derives everything from
ground truth:

- per-query LAST DRIVER-GREEN round, computed from the committed
  CORRECTNESS_r*.json files (green = rows+schema+hash match, no err);
- the round's MUST_ROTATE list (new queries + queries whose output or
  implementation changed), declared once below;
- head = MUST_ROTATE + the stalest driver greens, exactly
  WINDOW (50) entries; tail = everything else, freshest-first.

Run from the repo root: ``python scripts/gen_gate_head.py [--check]``.
Default rewrites the generated block in registry.py in place;
``--check`` exits non-zero if the committed block differs from the
regenerated one (the pytest rotation pin runs this mode, so a stale
window fails the suite instead of silently dropping a query out of
the driver's 50-entry view).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(
    ROOT, "aws_kinesis_data_ingestion_restapi_spark", "registry.py"
)
WINDOW = 50

#: Round-14 rotation set: every query whose IMPLEMENTATION changed
#: this round (outputs unchanged, re-proven vs the oracle at sf0.01).
#: The ingest-layer simplification edited write_partitioned (format
#: knob and ORC branch removed) and decode_envelope (data_col removed).
MUST_ROTATE = [
    "pipeline_partition_scan",
    "pipeline_envelope_decode",
]


def _tracked_correctness() -> set[str]:
    """Basenames of CORRECTNESS files known to git — a file the driver
    deposited AFTER the builder's round close is untracked, and the
    --check fallback ignores it so a fresh round doesn't start red
    (r9 ADVICE). Round close still fails hard: by then the round's
    file is committed and the strict compare governs."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
    except Exception:
        return set()
    return {os.path.basename(p) for p in out.split()}


def last_green_rounds(tracked_only: bool = False) -> dict[str, int]:
    """name -> highest round with a fully-green driver row (never-
    checked names are absent → treated as round 0 = stalest)."""
    tracked = _tracked_correctness() if tracked_only else None
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        if tracked is not None and os.path.basename(path) not in tracked:
            continue
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def compute_order(
    tracked_only: bool = False,
) -> tuple[list[str], list[str], dict[str, int]]:
    sys.path.insert(0, ROOT)
    from aws_kinesis_data_ingestion_restapi_spark.registry import QUERY_FNS

    names = list(QUERY_FNS)
    greens = last_green_rounds(tracked_only=tracked_only)
    missing = [n for n in MUST_ROTATE if n not in names]
    assert not missing, f"MUST_ROTATE names not in registry: {missing}"
    rest = [n for n in names if n not in MUST_ROTATE]
    stale_first = sorted(rest, key=lambda n: (greens.get(n, 0), n))
    head = MUST_ROTATE + stale_first[: WINDOW - len(MUST_ROTATE)]
    assert len(head) == WINDOW, len(head)
    tail = sorted(
        (n for n in names if n not in head),
        key=lambda n: (-greens.get(n, 0), n),
    )
    return head, tail, greens


def render(head: list[str], tail: list[str], greens: dict[str, int]) -> str:
    n_new = sum(1 for n in MUST_ROTATE if greens.get(n, 0) == 0)
    n_changed = len(MUST_ROTATE) - n_new
    n_stale = WINDOW - len(MUST_ROTATE)
    stale_rounds = sorted(
        {greens.get(n, 0) for n in head[len(MUST_ROTATE):]}
    )
    lines = [
        "# --- BEGIN GENERATED GATE ORDER (scripts/gen_gate_head.py) ---",
        "# Window = %d never-driver-checked additions + %d changed"
        % (n_new, n_changed),
        "# entries + the %d stalest driver greens (last green in"
        % n_stale,
        "# round(s) %s, from CORRECTNESS_r*.json). Regenerate with"
        % stale_rounds,
        "#   python scripts/gen_gate_head.py",
        "# (pytest runs --check; hand-edits here go stale and FAIL).",
        "_GATE_HEAD = [",
    ]
    for n in head:
        lines.append(f'    "{n}",  # last driver green: r{greens.get(n, 0)}')
    lines.append("]")
    lines.append("_GATE_TAIL = [")
    for n in tail:
        lines.append(f'    "{n}",  # last driver green: r{greens.get(n, 0)}')
    lines.append("]")
    lines.append("# --- END GENERATED GATE ORDER ---")
    return "\n".join(lines)


def main() -> int:
    head, tail, greens = compute_order()
    block = render(head, tail, greens)
    src = open(REGISTRY).read()
    pat = re.compile(
        r"# --- BEGIN GENERATED GATE ORDER.*?# --- END GENERATED GATE ORDER ---",
        re.S,
    )
    if "--check" in sys.argv:
        m = pat.search(src)
        if m is None or m.group(0) != block:
            # Tolerate staleness caused ONLY by a CORRECTNESS file the
            # driver deposited after round close (untracked in git) —
            # the next builder session regenerates before first commit.
            head_t, tail_t, greens_t = compute_order(tracked_only=True)
            if m is not None and m.group(0) == render(head_t, tail_t, greens_t):
                print(
                    "gate order current vs committed history "
                    "(ignoring post-close driver CORRECTNESS deposit)"
                )
                return 0
            print("gate order is STALE — run: python scripts/gen_gate_head.py")
            return 1
        print("gate order up to date")
        return 0
    if pat.search(src):
        src = pat.sub(lambda _: block, src)
    else:
        # first generation: replace the hand-written lists wholesale
        hand = re.compile(r"_GATE_HEAD = \[.*?\n\]\n_GATE_TAIL = \[.*?\n\]", re.S)
        assert hand.search(src), "no gate lists found to replace"
        src = hand.sub(lambda _: block, src)
    open(REGISTRY, "w").write(src)
    print(f"wrote {WINDOW}-entry head + {len(tail)}-entry tail")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
