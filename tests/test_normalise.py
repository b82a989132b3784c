"""Prefix normalisation: longest-match semantics, both physical modes."""

import pytest

from grebi_spark.operators import normalise as N
from grebi_spark.operators.normalise import PrefixMap, normalise_prefixes
from grebi_spark.schema import INGESTED

MAPPING = {
    "http://purl.obolibrary.org/obo/MONDO_": "mondo:",
    "http://purl.obolibrary.org/obo/": "obo:",  # shorter — must lose to MONDO_
    "MONDO:": "mondo:",
}

ROWS = [
    ("s", "d", "e", "p", "http://purl.obolibrary.org/obo/MONDO_0005044", None),
    ("s", "d", "e", "p", "http://purl.obolibrary.org/obo/UBERON_1", None),
    ("s", "d", "e", "p", "MONDO:123", None),
    ("s", "d", "e", "p", "unrelated", None),
]
EXPECTED = {"mondo:0005044", "obo:UBERON_1", "mondo:123", "unrelated"}


@pytest.mark.parametrize("force_udf", [False, True])
def test_longest_match_both_modes(spark, monkeypatch, force_udf):
    if force_udf:
        monkeypatch.setattr(N, "EXPR_MODE_MAX_PREFIXES", 0)
    df = spark.createDataFrame(ROWS, INGESTED)
    out = normalise_prefixes(df, PrefixMap(MAPPING), columns=("value",))
    assert {r["value"] for r in out.collect()} == EXPECTED


def test_expr_mode_stays_jvm_side(spark):
    """The small-map path must not contain a Python evaluation node."""
    df = spark.createDataFrame(ROWS, INGESTED)
    out = normalise_prefixes(df, PrefixMap(MAPPING), columns=("value",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_trie_rewrite_holds_throughput_at_bioregistry_scale():
    """The N1 scale gate (reference: grebi_shared/src/prefix_map.rs's
    byte trie over ~60k Bioregistry prefixes): per-row rewrite cost with
    a generated 60k-prefix map must stay within a small constant of the
    20-prefix fixture's (measured ~2.3×; asserted <4× for steal
    headroom), where a flat alternation regex degrades ~linearly in the
    alternative count. Longest-match semantics are re-proven against
    brute force on a sample."""
    import random
    import re
    import time

    from grebi_spark.operators.normalise import PrefixMap

    random.seed(11)
    big = {}
    for i in range(30000):
        big[f"http://purl.obolibrary.org/obo/T{i}_"] = f"t{i}:"
        big[f"P{i}X:"] = f"p{i}:"
    small = dict(list(big.items())[:10]) | {
        f"MONDO{i}:": f"mondo{i}:" for i in range(10)
    }
    pat_big, pat_small = PrefixMap(big).compiled(), PrefixMap(small).compiled()

    strs = []
    for i in range(20000):
        r = i % 4
        if r == 0:
            strs.append(f"http://purl.obolibrary.org/obo/T{i % 30000}_x{i}")
        elif r == 1:
            strs.append(f"P{i % 30000}X:abc{i}")
        elif r == 2:
            strs.append(f"MONDO{i % 10}:xyz")
        else:
            strs.append(f"no-match-{i}")

    def bench(pat, mapping):
        t0 = time.time()
        for s in strs:
            m = pat.match(s)
            _ = mapping[m.group(0)] + s[m.end():] if m else s
        return time.time() - t0

    bench(pat_big, big)  # warm
    t_big, t_small = bench(pat_big, big), bench(pat_small, small)
    assert t_big < 4 * max(t_small, 1e-4), (t_big, t_small)

    # longest-match identical to brute force over the 60k map
    keys = sorted(big, key=len, reverse=True)
    for s in random.sample(strs, 200):
        m = pat_big.match(s)
        brute = next((k for k in keys if s.startswith(k)), None)
        assert (m.group(0) if m else None) == brute, s

    # contrast: the flat alternation the trie replaced is an order of
    # magnitude slower on the same map (sampled to keep the test fast)
    flat = re.compile(
        "^(?:" + "|".join(re.escape(k) for k in keys) + ")"
    )
    sample = strs[:500]
    t0 = time.time()
    for s in sample:
        flat.match(s)
    t_flat = time.time() - t0
    t0 = time.time()
    for s in sample:
        pat_big.match(s)
    t_trie = time.time() - t0
    assert t_flat > 10 * t_trie, (t_flat, t_trie)
