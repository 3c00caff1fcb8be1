#!/usr/bin/env python3
"""Scale-gate inventory for the verbatim arm of tools/scale_gate.sh.

Usage: tools/gate_inventory.py <verify_dump_dir> <excluded,faces> [chunks]

The registry is the key set of the dump's oracle_sql.json: every
registered face has an oracle, so a full graft.Verify dump (no
SPARK_GRAFT_ONLY) lists them all. The kept inventory is the registry
minus the exclusions, and every exclusion must be a registered name, so
a renamed or removed face cannot drop out of both arms unnoticed. Prints
the kept faces as `chunks` comma-separated lines (sorted-order modulus).
"""
import json
import sys


def inventory(registry, excluded):
    """Registry minus exclusions, refusing an exclusion that names no face."""
    registry, excluded = set(registry), set(excluded)
    unknown = sorted(excluded - registry)
    if unknown:
        sys.exit("gate_inventory: exclusions name no registered face: "
                 + ", ".join(unknown))
    kept = sorted(registry - excluded)
    assert set(kept) == registry - excluded and not set(kept) & excluded
    return kept


def main():
    dump, excl = sys.argv[1], sys.argv[2]
    chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    with open(f"{dump}/oracle_sql.json") as f:
        registry = json.load(f)
    excluded = [e for e in excl.split(",") if e]
    kept = inventory(registry, excluded)
    print(f"gate_inventory: registry {len(registry)}, excluded {len(set(excluded))}, "
          f"kept {len(kept)}", file=sys.stderr)
    for i in range(chunks):
        print(",".join(kept[i::chunks]))


if __name__ == "__main__":
    main()
