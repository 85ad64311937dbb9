"""Diff two shuffle-ledger artifacts (PLANS_r{N}.json, written by
``plan_audit.py --ledger``).

The ledger exists so a quiet plan change that adds a shuffle without
changing answers gets caught the round it lands; this is the diff that
reads two of them. Prints added/removed queries and, for every query
whose fingerprint changed, the per-counter delta — an exchanges bump is
the "new shuffle" signal, a broadcasts drop is the "lost broadcast"
signal, a scans bump is the "extra pass over the data" signal.
``aqe_shuffle_reads`` is printed on its own informational lines and is
never a fingerprint change (see ``INFO_COUNTERS``).

    python scripts/plan_diff.py PLANS_r13.json PLANS_r14.json
"""

from __future__ import annotations

import argparse
import json
import sys

COUNTERS = ("exchanges", "broadcasts", "bnlj", "scans")
# Counted on the AQE final plan after collect(): which shuffle reads AQE
# coalesces or localizes depends on the order its query stages finish, so
# an unchanged plan reads differently across identical runs —
# h5_local_supplier_volume collected three times in a row in one session
# read [2, 3, 3] and [3, 3, 2]. A difference here is reported, not a plan
# change; the ledger keeps the column as evidence AQE's runtime path ran.
INFO_COUNTERS = ("aqe_shuffle_reads",)


def diff(old: dict, new: dict) -> dict:
    oq, nq = old["queries"], new["queries"]
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    # .get(k, 0) on BOTH sides: a ledger written by an older/newer
    # plan_audit with a different counter set must diff readably (a
    # missing counter reads as 0), not raise KeyError (ADVICE r13) —
    # and every key either side carries is compared, so the r14
    # pre-checkpoint columns diff against an r13 ledger that lacks them
    counters = tuple(
        k
        for k in dict.fromkeys(
            COUNTERS
            + tuple(k for q in list(oq.values()) + list(nq.values()) for k in q)
        )
        if k not in INFO_COUNTERS
    )

    def delta(name: str, keys: tuple[str, ...]) -> dict:
        return {
            k: (oq[name].get(k, 0), nq[name].get(k, 0))
            for k in keys
            if oq[name].get(k, 0) != nq[name].get(k, 0)
        }

    common = sorted(set(oq) & set(nq))
    changed = {name: d for name in common if (d := delta(name, counters))}
    info = {name: d for name in common if (d := delta(name, INFO_COUNTERS))}
    return {
        "added": added,
        "removed": removed,
        "changed": changed,
        "info": info,
        "old_errors": old.get("errors", {}),
        "new_errors": new.get("errors", {}),
        # same union-of-keys rule as the per-query deltas: the pre_*
        # totals must appear in the summary line, not just in per-query
        # rows that happen to be listed for other reasons
        "totals_delta": {
            k: new["totals"].get(k, 0) - old["totals"].get(k, 0)
            for k in dict.fromkeys(
                COUNTERS + tuple(old["totals"]) + tuple(new["totals"])
            )
            if k not in INFO_COUNTERS
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    args = ap.parse_args()
    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    d = diff(old, new)
    for name in d["added"]:
        print(f"+ {name}: {new['queries'][name]}")
    for name in d["removed"]:
        print(f"- {name}")
    for name, deltas in d["changed"].items():
        parts = ", ".join(f"{k} {a}→{b}" for k, (a, b) in deltas.items())
        print(f"~ {name}: {parts}")
    for name, deltas in d["info"].items():
        parts = ", ".join(f"{k} {a}→{b}" for k, (a, b) in deltas.items())
        print(f"i {name}: {parts} (informational: AQE stage timing)")
    if d["old_errors"] or d["new_errors"]:
        print(f"! errors — old: {sorted(d['old_errors'])}, new: {sorted(d['new_errors'])}")
    print(json.dumps({"summary": {"added": len(d["added"]),
                                  "removed": len(d["removed"]),
                                  "changed": len(d["changed"]),
                                  "totals_delta": d["totals_delta"]}}))
    # a changed fingerprint is a signal, not automatically a failure: exit
    # nonzero only for NEW errors, so CI can gate on broken sweeps while
    # plan drift stays a human review item (the commit must explain it).
    # OLD errors are known history — a clean run diffed against a ledger
    # that captured a broken sweep must not fail forever (ADVICE r13);
    # they still print above for context.
    return 1 if d["new_errors"] else 0


if __name__ == "__main__":
    sys.exit(main())
