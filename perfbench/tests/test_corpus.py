"""The corpus generator is seeded and its ground truth is right."""

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corpus import (  # noqa: E402
    REF_PROP,
    CorpusSpec,
    Entity,
    compute_truth,
    identifier_pair_count,
    write_corpus,
)

SMALL = CorpusSpec(n_concepts=120, hub_members=20)


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_gives_identical_files(tmp_path):
    a = write_corpus(SMALL, 5, str(tmp_path / "a"))
    b = write_corpus(SMALL, 5, str(tmp_path / "b"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    for name in _files(tmp_path / "a"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False), name
    assert a.rows == b.rows


def test_other_seed_gives_other_files(tmp_path):
    write_corpus(SMALL, 5, str(tmp_path / "a"))
    write_corpus(SMALL, 6, str(tmp_path / "b"))
    differ = [
        n
        for n in _files(tmp_path / "a")
        if not filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False)
    ]
    assert differ == _files(tmp_path / "a")


def test_value_props_column_is_typed_string_even_when_all_null(tmp_path):
    import pyarrow.parquet as pq

    c = write_corpus(SMALL, 5, str(tmp_path))
    schema = pq.read_schema(c.base_paths[0])
    assert [str(schema.field(n).type) for n in schema.names] == ["string"] * 6
    # a file whose value_props are all null still types the column
    e = Entity("ds_x", "x:1", [("id", "x:1", None), ("grebi:type", "t", None)])
    from corpus import _write_parquet

    path = str(tmp_path / "nulls.parquet")
    _write_parquet([e], path)
    assert str(pq.read_schema(path).field("value_props").type) == "string"


def test_truth_on_hand_built_chain_and_hub():
    # chain: zz:1 ~ bb:1 ~ cc:1 ~ mondo:1 over three entities -> one clique
    # hub: hub:H shared by three more entities -> a second clique
    # lone: one entity that only references the chain
    ents = [
        Entity("ds1", "zz:1", [("id", "zz:1", None), ("owl:sameAs", "bb:1", None)]),
        Entity("ds2", "bb:1", [("id", "bb:1", None), ("skos:exactMatch", "cc:1", None)]),
        Entity("ds3", "cc:1", [("id", "cc:1", None), ("owl:sameAs", "mondo:1", None),
                               ("grebi:name", "chain end", None)]),
        Entity("ds1", "p:1", [("id", "p:1", None), ("grebi:equivalentTo", "hub:H", None)]),
        Entity("ds2", "p:2", [("id", "p:2", None), ("grebi:equivalentTo", "hub:H", None)]),
        Entity("ds3", "p:3", [("id", "p:3", None), ("grebi:equivalentTo", "hub:H", None),
                              (REF_PROP, "bb:1", '{"e":["1"]}')]),
        Entity("ds1", "lone:1", [("id", "lone:1", None), (REF_PROP, "zz:1", None),
                                 (REF_PROP, "cc:1", None), (REF_PROP, "nowhere:9", None)]),
    ]
    t = compute_truth(ents)
    # most alphabetic CURIE wins the chain; the hub id wins its clique
    assert {t.canon[a] for a in ("zz:1", "bb:1", "cc:1", "mondo:1")} == {"mondo:1"}
    assert {t.canon[a] for a in ("p:1", "p:2", "p:3", "hub:H")} == {"hub:H"}
    assert t.nodes == {"mondo:1", "hub:H", "lone:1"}
    assert t.max_clique == 4
    assert t.names["mondo:1"] == {"chain end"}
    # two references into the same clique collapse to one edge; a
    # reference to an unknown id makes none
    assert t.edges == {
        ("hub:H", REF_PROP, "mondo:1", '{"e":["1"]}'),
        ("lone:1", REF_PROP, "mondo:1", None),
    }
    assert t.in_deg == {"mondo:1": 2} and t.out_deg == {"hub:H": 1, "lone:1": 1}


def test_generated_corpus_has_the_promised_shape(tmp_path):
    c = write_corpus(SMALL, 3, str(tmp_path))
    t = c.truth()
    assert t.max_clique > 50  # a hub clique past the 50-member warning
    assert t.edges and any(vp is not None for *_x, vp in t.edges)  # reified
    assert identifier_pair_count(c) > len(t.nodes)
    # chains join consecutive concepts: fewer nodes than concepts
    assert len(t.nodes) < SMALL.n_concepts
    assert t.search_hits("syndrome") >= t.bm25_hits("syndrome") > 0
    assert all(n.lower().startswith("acu") for n in t.suggest("acu"))
