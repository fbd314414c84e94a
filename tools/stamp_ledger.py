"""Driver-stamp ledger: which queries have correctness evidence, how old
it is, and whether the implementation changed since. ``registry.queries()``
is ordered from this ledger (``registry._stamp_order``), so the driver's
50-slot window always holds the queries that need evidence most.

Mechanics
---------
- The driver stamps only the first 50 ``queries()`` entries per round
  (``CORRECTNESS_r{N}.json``); everything else keeps older stamps.
- A stamp is *current* only if the query's implementation hasn't changed
  since the stamping round. ``registry._fingerprint`` fingerprints each
  query as ``sha256(source of the registered fn + oracle SQL)``, and
  ``--update`` (run once after each driver round) records the
  fingerprint alongside the stamping round in ``tools/stamp_ledger.json``.
  A query whose current fingerprint differs from its recorded one is
  stale, and ``queries()`` puts it right after the never-stamped ones.
- ``--update`` computes each absorbed fingerprint FROM THE GIT COMMIT
  that introduced that round's ``CORRECTNESS_r{N}.json`` (the driver
  commits the working tree, then runs verify, so that commit is exactly
  the code it tested): a throwaway ``git worktree`` of that commit is
  imported in a subprocess and fingerprinted there. This makes
  absorption truthful no matter when it runs — the r8 lesson was a
  query (``pareto_frontier_docs``) rewritten mid-round whose fresh
  stamp then read "changed since stamp" against an r6-era fingerprint
  because the working tree had moved on before ``--update`` ran.
- Fingerprints cover the registered callable's own source (via
  ``inspect.getsource``; for lambdas that is the whole ``register(...)``
  statement) plus the oracle string. A rewrite of a HELPER the fn calls
  is not detected.

Usage::

    python tools/stamp_ledger.py            # print table, write STAMPS.md
    python tools/stamp_ledger.py --update   # also absorb newest round
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from precios_nexo_sperant_etl_spark import registry  # noqa: E402

LEDGER = registry._LEDGER
OUT_MD = os.path.join(ROOT, "STAMPS.md")
WINDOW = 50  # queries() entries the driver stamps per round


#: Subprocess body run inside a historical git worktree: prints the
#: {query: fingerprint} map for the registry AS OF that commit. It
#: carries its own copy of ``registry._fingerprint``'s recipe (same hash,
#: same truncation) because older commits lack that helper.
_FP_SCRIPT = r"""
import hashlib, inspect, json, os, sys
sys.path.insert(0, os.getcwd())
from precios_nexo_sperant_etl_spark import registry
registry._load_all()
out = {}
for name, q in registry._REGISTRY.items():
    try:
        src = inspect.getsource(q.fn)
    except (OSError, TypeError):
        src = repr(q.fn)
    out[name] = hashlib.sha256(
        (src + "\x00" + (q.oracle or "")).encode()).hexdigest()[:16]
print(json.dumps(out))
"""


def _commit_of(path: str) -> str | None:
    """Newest commit touching *path* (the driver's round-end commit)."""
    import subprocess
    try:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", path],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout.strip()
        return out or None
    except subprocess.CalledProcessError:
        return None


def _fingerprints_at_commit(commit: str) -> dict[str, str] | None:
    """Fingerprint every registered query as of *commit* via a throwaway
    git worktree + subprocess import. Returns None if anything fails
    (caller falls back to current-tree fingerprints with a warning)."""
    import subprocess
    import tempfile
    wt = tempfile.mkdtemp(prefix="stamp_fp_")
    try:
        subprocess.run(["git", "worktree", "add", "--detach", "--force",
                        wt, commit],
                       cwd=ROOT, capture_output=True, check=True)
        env = dict(os.environ, PYTHONPATH=wt)
        r = subprocess.run([sys.executable, "-c", _FP_SCRIPT], cwd=wt,
                           env=env, capture_output=True, text=True,
                           timeout=300)
        if r.returncode != 0:
            print(f"WARNING: fingerprint subprocess at {commit[:12]} "
                  f"failed:\n{r.stderr[-2000:]}")
            return None
        return json.loads(r.stdout.strip().splitlines()[-1])
    except Exception as e:  # noqa: BLE001 — absorb-and-warn, never crash
        print(f"WARNING: could not fingerprint at {commit[:12]}: {e}")
        return None
    finally:
        import shutil
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(wt, ignore_errors=True)


def _correctness_rounds() -> list[tuple[int, dict]]:
    out = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        with open(path) as f:
            out.append((int(m.group(1)), json.load(f)))
    return sorted(out)


def main(update: bool = False) -> int:
    registry._load_all()
    rounds = _correctness_rounds()
    ledger = registry._read_ledger(LEDGER)

    # Last green round + check kind per query, from the driver's files.
    last: dict[str, tuple[int, str]] = {}
    for rnd, data in rounds:
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match"):
                last[name] = (rnd, "hash")
            elif row.get("rows_match") and name not in last:
                last[name] = (rnd, "rows")

    if update and rounds:
        # Absorb every round newer than a query's recorded one (not just
        # the newest file), fingerprinting AT THE ROUND'S COMMIT so the
        # record matches the code the driver actually tested — running
        # --update late in a round can no longer poison the ledger.
        at_commit_cache: dict[str, dict[str, str] | None] = {}
        for rnd, data in rounds:
            fresh = [n for n, row in data.items()
                     if isinstance(row, dict) and row.get("hash_match")
                     and n in registry._REGISTRY
                     and ledger.get(n, {}).get("round", -1) < rnd]
            if not fresh:
                continue
            path = os.path.join(ROOT, f"CORRECTNESS_r{rnd:02d}.json")
            commit = _commit_of(os.path.relpath(path, ROOT))
            if commit not in at_commit_cache:
                at_commit_cache[commit] = (
                    _fingerprints_at_commit(commit) if commit else None)
            fps = at_commit_cache[commit]
            for name in fresh:
                fp = (fps or {}).get(name) \
                    or registry._fingerprint(registry._REGISTRY[name])
                ledger[name] = {"round": rnd, "fp": fp}
            if fps is None:
                print(f"WARNING: r{rnd:02d} fingerprints taken from the "
                      "CURRENT tree (git lookup failed) — truthful only "
                      "if query code is unchanged since that round.")
        with open(LEDGER, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)

    # Protocol guard (round-4 lesson): a green stamp whose fingerprint
    # was never absorbed reads as "changed since stamp" even when the
    # stamp is fresh. Absorption is only truthful while the working tree
    # still matches what the driver tested, i.e. FIRST THING each round
    # — so flag any newest-round stamp the ledger hasn't ingested yet.
    if not update and rounds:
        newest_rnd, newest = rounds[-1]
        unabsorbed = [
            n for n, row in newest.items()
            if isinstance(row, dict) and row.get("hash_match")
            and ledger.get(n, {}).get("round", -1) < newest_rnd]
        if unabsorbed:
            print(f"WARNING: CORRECTNESS_r{newest_rnd:02d} has "
                  f"{len(unabsorbed)} green stamps not yet absorbed — run "
                  "`python tools/stamp_ledger.py --update` BEFORE editing "
                  "query code this round, or fresh stamps will read stale.")

    lines = [
        "# Driver-stamp ledger",
        "",
        "Generated by `python tools/stamp_ledger.py` — do not edit. "
        "Rows are in `registry.queries()` order, computed from "
        "`tools/stamp_ledger.json`: never stamped, then changed since "
        "stamp, then current, oldest stamp first. The driver stamps the "
        "first 50 (`window slot`). `changed` = implementation "
        "fingerprint differs from the one recorded at stamp time "
        "(stale evidence).",
        "",
        "| query | last stamp | check | changed since stamp | window slot |",
        "|---|---|---|---|---|",
    ]
    order = registry._ordered()
    stale = []
    for i, name in enumerate(order):
        q = registry._REGISTRY[name]
        rnd, kind = last.get(name, (None, "—"))
        rec = ledger.get(name)
        if rnd is None:
            changed = "—(never stamped)"
        elif rec is None:
            changed = "unknown"
        elif rec["fp"] != registry._fingerprint(q):
            changed = "YES"
            stale.append(name)
        else:
            changed = "no"
        slot = i + 1 if i < WINDOW else ""
        lines.append(f"| {name} | {'r%02d' % rnd if rnd else '—'} | {kind} "
                     f"| {changed} | {slot} |")
    never = [n for n in order if n not in last]
    lines += [
        "",
        f"Totals: {len(registry._REGISTRY)} queries, "
        f"{len(last)} with driver stamps "
        f"({sum(1 for r in last.values() if r[1] == 'hash')} hash-checked), "
        f"{len(never)} never stamped, {len(stale)} stale.",
        "",
    ]
    if never:
        lines.append(f"Never stamped: {', '.join(sorted(never))}.")
    if stale:
        lines.append(f"Stale (changed since stamp): {', '.join(stale)}.")
    with open(OUT_MD, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-6:]))
    print(f"\nwrote {OUT_MD}")
    return 0


if __name__ == "__main__":
    sys.exit(main(update="--update" in sys.argv))
