#!/usr/bin/env python
"""Round-11 rotation generator: derive registry._EVIDENCE_LAG and the
50-key _ROTATE_FRONT (VERDICT r10 #4).

VERDICT r10 asked the round-11 window to prioritize "edited-oracle ∩
stalest": 37+ oracle strings changed in round 10 AFTER their keys'
newest driver grading. Diffing every key's ORACLE string AND its
QUERIES function source between HEAD and the tree its newest
CORRECTNESS_r*.json row actually graded (the parent commit of each
"round N: verdict/advice" artifact commit) shows the real lag is
larger: the r10 robustness sweeps (try_divide conventions, poisoned
emb CTEs, asc_nulls_last windows) touched 135 keys whose newest driver
row predates the edit. 135 > 50 slots, so one round cannot drain it;
the policy that fits both VERDICT #4 and the freshness-bound test
(tests/test_contract.py: the oldest stratum must be fully in the
window) is:

    stalest stratum first, and WITHIN each stratum, evidence-lagged
    keys before untouched ones (module order as the final tie-break).

This script recomputes the lag set from git evidence and prints the
two registry literals. Run it at the START of a round, before new
edits, then paste its output into registry.py. It needs the git repo
(``git archive`` exports of the graded trees) — it is an offline
generator, never imported at runtime.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re
import subprocess
import sys
import tempfile
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: round → artifact commit ("round N: verdict/advice/correctness/bench");
#: the tree the driver graded is its PARENT.
ARTIFACT_COMMITS = {
    3: "5d4d32c", 4: "a2f1cd9", 5: "82bfb38", 6: "ea970ef",
    7: "710afab", 8: "39801bb", 9: "4fb3d9b", 10: "b695875",
    11: "71d4085", 12: "98ea813",
}

DUMP = textwrap.dedent(
    """
    import hashlib, inspect, json, sys
    sys.path.insert(0, ".")
    from knn_with_mapreduce_cuda_spark import registry
    collect = getattr(registry, "_collect_raw", None) or registry._collect
    out = {k: hashlib.sha1(v.encode()).hexdigest()
           for k, v in collect("ORACLE").items()}
    src = {}
    for k, fn in collect("QUERIES").items():
        try:
            src[k] = hashlib.sha1(inspect.getsource(fn).encode()).hexdigest()
        except Exception:
            src[k] = "nosrc"
    json.dump({"oracle": out, "src": src}, open(sys.argv[1], "w"))
    """
)


def newest_driver_round() -> dict[str, int]:
    """key → newest CORRECTNESS round, ALL artifacts counted (the
    post-rotation view: once _ROTATE_FRONT changes, the newest artifact
    no longer matches it and registry.staleness_map counts it too)."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"r(\d+)\.json$", path).group(1))
        for k in json.load(open(path)):
            last[k] = max(last.get(k, 0), r)
    return last


def dump_at(commit: str | None, out_path: str) -> dict:
    """{oracle: {key: sha1}, src: {key: sha1}} for HEAD (commit=None)
    or for a ``git archive`` export of ``commit``."""
    import shutil

    script = os.path.join(tempfile.gettempdir(), "rot_dump.py")
    open(script, "w").write(DUMP)
    if commit is None:
        subprocess.run([sys.executable, script, out_path], cwd=ROOT, check=True,
                       capture_output=True)
    else:
        tree = tempfile.mkdtemp(prefix="rot_tree_")
        try:
            archive = subprocess.run(["git", "archive", commit], cwd=ROOT,
                                     check=True, capture_output=True).stdout
            subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
            subprocess.run([sys.executable, script, out_path], cwd=tree, check=True,
                           capture_output=True)
        finally:
            shutil.rmtree(tree, ignore_errors=True)
    return json.load(open(out_path))


def main() -> None:
    last = newest_driver_round()
    tmp = tempfile.mkdtemp(prefix="rot_hashes_")
    head = dump_at(None, os.path.join(tmp, "head.json"))
    per_round = {
        r: dump_at(f"{c}^", os.path.join(tmp, f"r{r}.json"))
        for r, c in ARTIFACT_COMMITS.items()
        if r in set(last.values())
    }
    lag = sorted(
        k for k, r in last.items()
        if head["oracle"].get(k) != per_round[r]["oracle"].get(k)
        or head["src"].get(k) != per_round[r]["src"].get(k)
    )
    print(f"# evidence-lagged keys: {len(lag)}")
    print("_EVIDENCE_LAG = [")
    for i in range(0, len(lag), 3):
        print("    " + " ".join(f"{k!r}," for k in lag[i:i + 3]))
    print("]")
    # window preview under the within-stratum-lag-first policy
    sys.path.insert(0, ROOT)
    from knn_with_mapreduce_cuda_spark import registry

    base = list(registry._collect_raw("QUERIES"))
    order = {k: i for i, k in enumerate(base)}
    lag_set = set(lag)
    window = sorted(
        base, key=lambda k: (last.get(k, 0), k not in lag_set, order[k])
    )[:50]
    print("\n_ROTATE_FRONT = [")
    for i in range(0, len(window), 3):
        print("    " + " ".join(f"{k!r}," for k in window[i:i + 3]))
    print("]")


if __name__ == "__main__":
    main()
