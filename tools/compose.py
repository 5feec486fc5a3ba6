#!/usr/bin/env python3
"""Compose SWEEP_SF01_r<NN>.json and NOBROADCAST_r<NN>.json in the repo
root from the untimed chain's check outputs (tools/artifacts.sh).

Usage: python3 tools/compose.py <round>
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def counts(path):
    """(ok, mismatched) from the last line of a check.py run."""
    last = open(path).read().strip().splitlines()[-1]
    m = re.match(r"(\d+) OK, (\d+) mismatched", last)
    if not m:
        sys.exit(f"{path}: no 'N OK, M mismatched' summary in {last!r}")
    return int(m.group(1)), int(m.group(2))


def main(round_no):
    r = f"{int(round_no):02d}"
    work = f"/tmp/graft_r{r}"
    fo, fm = counts(f"{work}/sweep_fetchall.txt")
    po, pm = counts(f"{work}/sweep_pandas.txt")
    sweep = {
        "note": (f"Full {fo + fm}-query inventory oracle sweep at sf0.1 (10x "
                 "the driver gate sf), round " + r + ". Both comparator paths "
                 "(tools/check.py fetchall and tools/check_pandas.py "
                 "pandas-dtype) over the same Verify dump."),
        "sf": 0.1,
        "fetchall": {"ok": fo, "mismatched": fm},
        "pandas": {"ok": po, "mismatched": pm},
    }
    with open(os.path.join(ROOT, f"SWEEP_SF01_r{r}.json"), "w") as f:
        json.dump(sweep, f, indent=1)
    print(f"SWEEP_SF01_r{r}:", sweep["fetchall"], sweep["pandas"])

    no, nm = counts(f"{work}/nobc_check.txt")
    nob = {
        "note": ("Join battery under autoBroadcastJoinThreshold=-1 (the "
                 "100 TB posture where no corpus-derived side fits executor "
                 f"memory): {no} OK, {nm} mismatched via tools/check.py at "
                 "sf0.01. Corpus joins should demote to SortMergeJoin; "
                 "surviving broadcasts are bounded by construction (see "
                 "NOBROADCAST_r08 note)."),
        "plans": json.load(open(f"{work}/nobc/nobroadcast_plans.json")),
    }
    with open(os.path.join(ROOT, f"NOBROADCAST_r{r}.json"), "w") as f:
        json.dump(nob, f, indent=1)
    print(f"NOBROADCAST_r{r}: {no} OK, {nm} mismatched")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
