#!/usr/bin/env python3
"""Choose the batch_ops key sample from measured per-key times.

    python3 perfbench/choose_keys.py

Reads key_seconds_4core.json (one graft.Bench pass over all 170 keys of
the twelve families) and prints the sample that BatchOps.scala lists,
then how the sample's time compares with the full set's.

The rule: each family of n keys gets ceil(n / 10) keys. Its keys are
sorted by measured time and cut into that many strata of (nearly)
equal count; each stratum gives its middle key, so the sample spans
the family's time range. A stratum that holds a key of FORCED gives
that key instead.
"""
import json
import math
import statistics
from pathlib import Path

PROFILE = Path(__file__).resolve().parent / "key_seconds_4core.json"
PER_STRATUM = 10
# keys the sample must hold because a layer is reached through them only:
# q_array_hof is the one key whose plan graft.plans.DotProductRewrite
# rewrites; q_sim_cosine_topk is the LlmOps pair scan
# (core.pairScanPartitions) over the persisted costop5 index
FORCED = ("q_array_hof", "q_sim_cosine_topk")
# a key below this many seconds is dominated by fixed per-query cost
FIXED_COST_S = 0.3
# the families of fixed-cost-bound relational keys; the other five are
# loop-, pair-scan- and index-bound
RELATIONAL = ("Relational", "Aggregates", "Scalars", "Windows", "Streaming",
              "Pipeline", "Storage")


def choose(families):
    """[(family, key)] in family order, then stratum order."""
    sample = []
    for fam, times in families.items():
        keys = sorted(times, key=lambda k: (times[k], k))
        n = len(keys)
        strata = math.ceil(n / PER_STRATUM)
        cuts = [round(i * n / strata) for i in range(strata + 1)]
        for lo, hi in zip(cuts, cuts[1:]):
            stratum = keys[lo:hi]
            forced = [k for k in stratum if k in FORCED]
            sample.append((fam, forced[0] if forced else stratum[(len(stratum) - 1) // 2]))
    return sample


def main():
    families = json.loads(PROFILE.read_text())["families"]
    times = {k: s for fam in families.values() for k, s in fam.items()}
    sample = choose(families)
    picked = [k for _, k in sample]
    total, part = sum(times.values()), sum(times[k] for k in picked)
    for fam in families:
        keys = [k for f, k in sample if f == fam]
        print(f'"{fam}" -> Seq({", ".join(chr(34) + k + chr(34) for k in keys)}),')
    print(f"\n{len(picked)} of {len(times)} keys, {part:.2f} s of {total:.2f} s "
          f"({part / total:.1%} of the full set's time)")
    print(f"\n{'family':12s} {'full set':>9s} {'sample':>7s}   share of time")
    for fam, ft in families.items():
        st = sum(times[k] for f, k in sample if f == fam)
        print(f"{fam:12s} {sum(ft.values()) / total:9.1%} {st / part:7.1%}")

    relational = [k for f in RELATIONAL for k in families[f]]
    print(f"\n{'+'.join(RELATIONAL)}: {sum(times[k] for k in relational) / total:.1%} "
          f"of the full set's time, "
          f"{sum(times[k] for f, k in sample if f in RELATIONAL) / part:.1%} of the sample's")

    def fixed(keys):
        return sum(times[k] for k in keys if times[k] < FIXED_COST_S)
    print(f"\nkeys under {FIXED_COST_S} s: {fixed(times) / total:.1%} of the full set's time, "
          f"{fixed(picked) / part:.1%} of the sample's")
    full_t, sample_t = list(times.values()), [times[k] for k in picked]
    print(f"key median: full set {statistics.median(full_t):.3f} s, "
          f"sample {statistics.median(sample_t):.3f} s")
    print(f"key p90: full set {statistics.quantiles(full_t, n=10)[-1]:.3f} s, "
          f"sample {statistics.quantiles(sample_t, n=10)[-1]:.3f} s")


if __name__ == "__main__":
    main()
