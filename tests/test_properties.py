"""Property-based invariants (hypothesis): the Spark expressions must
agree with straightforward Python reimplementations on arbitrary input."""


from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from grebi_spark.operators.groups import id_score
from grebi_spark.operators.normalise import PrefixMap, rewrite_expr

TOKEN = st.text(
    alphabet="abcdefghij:/_0123456789ABCDE.#-", min_size=0, max_size=24
)


def py_id_score(s: str) -> int:
    """Reference scoring reimplemented directly from
    02_assign_ids/grebi_identifiers2groups/src/main.rs:163-193."""
    if s.startswith("grebi:"):
        return -2147483648
    if s.startswith("biolink:"):
        return -2147483648 + 1000
    score = 0
    if ":" in s and not s.startswith("http"):
        score -= 1000
    score -= sum(1 for c in s if c.isalpha() and c.isascii())
    return score


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=1, max_size=30))
def test_id_score_matches_reference(spark, ids):
    ids = [i for i in ids if i]  # empty ids can't occur (check_id rejects)
    if not ids:
        return
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r["id"]: r["s"] for r in df.select("id", id_score(F.col("id")).alias("s")).collect()}
    for i in set(ids):
        assert got[i] == py_id_score(i), i


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abchttp:/._#", min_size=1, max_size=12),
        st.sampled_from(["x:", "y:", "z:"]),
        min_size=1,
        max_size=8,
    ),
    st.lists(TOKEN, min_size=1, max_size=30),
)
def test_prefix_rewrite_matches_longest_match(spark, mapping, values):
    pm = PrefixMap(mapping)

    def naive(s):
        best = None
        for p in mapping:
            if s.startswith(p) and (best is None or len(p) > len(best)):
                best = p
        return mapping[best] + s[len(best):] if best is not None else s

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    got = [r["out"] for r in df.select(rewrite_expr(pm, F.col("v")).alias("out")).collect()]
    # careful: equal-length prefixes can't both match the same string start
    # unless identical, so longest-match is unambiguous
    assert got == [naive(v) for v in values]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["n:1", "n:2", "n:3"]),          # node_id
            st.sampled_from(["dsA", "dsB", "dsC"]),          # datasource
            st.sampled_from(["grebi:type", "p:k1", "p:k2"]), # prop_key
            st.sampled_from(["v1", "v2", "v3"]),             # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_merge_invariants(spark, rows):
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.merge import merge_nodes

    df = spark.createDataFrame(
        [("s", ds, n, [n], k, v, None) for (n, ds, k, v) in rows],
        "subgraph string, datasource string, node_id string, source_ids array<string>, "
        "prop_key string, value string, value_props string",
    )
    out = merge_nodes(df, SubgraphConfig()).collect()
    typed = {n for (n, ds, k, v) in rows if k == "grebi:type"}
    keys = [(r["node_id"], r["prop_key"], r["value"]) for r in out]
    # dedup on (node, key, value[, props])
    assert len(keys) == len(set(keys))
    for r in out:
        # untyped-clique elimination
        assert r["node_id"] in typed
        # provenance arrays sorted + distinct
        assert r["datasources"] == sorted(set(r["datasources"]))
        assert r["source_ids"] == sorted(set(r["source_ids"]))
        # provenance is exactly the contributing datasources
        expected = sorted(
            {ds for (n, ds, k, v) in rows if (n, k, v) == (r["node_id"], r["prop_key"], r["value"])}
        )
        assert r["datasources"] == expected


# --- Turtle parser round-trip (sources/rdf_convert.py) ----------------------

_LIT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\r"  # bare \r is not valid in our writer
    ),
    max_size=40,
)
_IRI_LOCAL = st.text(alphabet="abcdefghijkXYZ0123456789", min_size=1, max_size=12)


def _ttl_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\t", "\\t")
    )


@given(
    st.lists(
        st.tuples(
            _IRI_LOCAL,
            _IRI_LOCAL,
            st.one_of(
                _IRI_LOCAL.map(lambda x: ("iri", x)), _LIT.map(lambda x: ("lit", x))
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_turtle_roundtrip(triples):
    """Serialising (s, p, o) triples to Turtle — with escaping — and
    parsing back must reproduce them exactly (literal escapes, unicode,
    quotes, newlines)."""
    from grebi_spark.sources.rdf_convert import turtle_to_triples

    base = "http://x.test/"
    lines = []
    want = []
    for s, p, (kind, o) in triples:
        if kind == "iri":
            obj = f"<{base}{o}>"
            want.append((base + s, base + p, base + o))
        else:
            obj = f'"{_ttl_escape(o)}"'
            want.append((base + s, base + p, o))
        lines.append(f"<{base}{s}> <{base}{p}> {obj} .")
    got = turtle_to_triples("\n".join(lines))
    assert sorted(got) == sorted(want)


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdef0123456789-", min_size=1, max_size=8),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=60, deadline=None)
def test_stream_offsets_exactly_once_any_arrival_order(tmp_path_factory, files):
    """grebi_jsonl stream bookkeeping: for ANY file-arrival schedule and
    ANY drain points, every file is consumed exactly once — regardless
    of how its name sorts relative to already-consumed files — and
    readBetweenOffsets replays exactly the recorded delta."""
    import json
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from grebi_spark.sources.pysource import GrebiJsonlStreamReader

    d = tmp_path_factory.mktemp("prop_stream")
    rdr = GrebiJsonlStreamReader(
        StructType([StructField("doc_id", LongType())]), {"path": str(d)}
    )
    # arrival schedule: files[i] lands in wave (i % (waves)); drain after
    # each wave
    waves: dict[int, list[tuple[str, int]]] = {}
    for i, (name, wave) in enumerate(files):
        waves.setdefault(wave, []).append((f"{name}.jsonl", i))

    offset = rdr.initialOffset()
    seen: list[int] = []
    checkpoints = [offset]
    for w in sorted(waves):
        for fname, i in waves[w]:
            with open(os.path.join(str(d), fname), "w") as fh:
                fh.write(json.dumps({"doc_id": i}) + "\n")
        rows, offset = rdr.read(offset)
        seen.extend(r[0] for r in rows)
        checkpoints.append(offset)
    # exactly-once: every landed file consumed once, none twice
    assert sorted(seen) == list(range(len(files)))
    # replay parity: each recorded inter-checkpoint delta reproduces the
    # exact rows of its batch
    replayed: list[int] = []
    for a, b in zip(checkpoints, checkpoints[1:]):
        replayed.extend(r[0] for r in rdr.readBetweenOffsets(a, b))
    assert sorted(replayed) == sorted(seen)


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abchttp:/_.", min_size=1, max_size=12),
        st.sampled_from(["x:", "y:", "z:"]),
        min_size=0,
        max_size=15,
    ),
    st.lists(
        st.text(alphabet="abchttp:/_.", min_size=0, max_size=20),
        max_size=30,
    ),
)
def test_trie_pattern_matches_naive_longest_prefix(mapping, values):
    """The trie-compiled regex (N1's Bioregistry-scale path) must agree
    with naive longest-prefix-match on arbitrary prefix sets — including
    prefixes that are prefixes of each other, where the trie's
    terminal-last alternative ordering carries the longest-match
    guarantee."""
    pm = PrefixMap(mapping)

    def naive(s):
        best = None
        for p in mapping:
            if s.startswith(p) and (best is None or len(p) > len(best)):
                best = p
        return mapping[best] + s[len(best):] if best is not None else s

    assert [pm.rewrite(v) for v in values] == [naive(v) for v in values]
