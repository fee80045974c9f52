"""Index-management procedure surface — SURVEY §2.8 (reference
call.go:728-748, call_index_mgmt.go): catalog-backed create/drop for
vector + fulltext indexes, setNodeVectorProperty as a table rewrite."""

from __future__ import annotations

import pytest

from nornicdb_spark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir):
    e = Engine(spark, sf_dir)
    # index defs live on the shared catalog — isolate per test
    e.catalog._index_catalog = None
    return e


def one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_vector_index_create_query_drop_cycle(eng):
    r = one(eng.cypher(
        """CALL db.index.vector.createNodeIndex(
             'emb_test', 'Embedding', 'embedding', 64, 'cosine')"""
    ))
    assert (r.name, r.state) == ("emb_test", "ONLINE")
    names = {x.name for x in eng.cypher("CALL db.indexes").collect()}
    assert "emb_test" in names
    # the new index resolves by NAME to the same (table, id, prop) source
    hits = eng.cypher(
        """CALL db.index.vector.queryNodes('emb_test', 5, $qv)
           YIELD node, score RETURN node, score""",
        {"qv": [float((i * 7) % 13) / 13.0 for i in range(64)]},
    ).collect()
    assert len(hits) == 5
    assert all(hits[i].score >= hits[i + 1].score for i in range(4))
    one(eng.cypher("CALL db.index.vector.drop('emb_test')"))
    names = {x.name for x in eng.cypher("CALL db.indexes").collect()}
    assert "emb_test" not in names
    # after the drop the name is unregistered: the query falls back to
    # the default embedding scan (reference call_vector.go:150-162
    # leniency) instead of failing
    fallback = eng.cypher(
        "CALL db.index.vector.queryNodes('emb_test', 5, $qv)",
        {"qv": [float((i * 7) % 13) / 13.0 for i in range(64)]},
    ).collect()
    assert len(fallback) == 5


def test_fulltext_index_on_custom_column(eng):
    one(eng.cypher(
        """CALL db.index.fulltext.createNodeIndex(
             'doc_lang', ['Document'], ['lang'])"""
    ))
    # postings built over the lang column: querying a language code hits
    # docs whose lang equals it
    hits = eng.cypher(
        "CALL db.index.fulltext.queryNodes('doc_lang', 'en', 3)"
    ).collect()
    assert 0 < len(hits) <= 3
    one(eng.cypher("CALL db.index.fulltext.drop('doc_lang')"))


def test_duplicate_index_name_rejected(eng):
    one(eng.cypher(
        "CALL db.index.vector.createNodeIndex('dup_ix', 'Embedding', 'embedding', 64)"
    ))
    with pytest.raises(Exception):
        eng.cypher(
            "CALL db.index.vector.createNodeIndex('dup_ix', 'Embedding', 'embedding', 64)"
        )
    one(eng.cypher("CALL db.index.vector.drop('dup_ix')"))


def test_list_available_analyzers(eng):
    rows = eng.cypher(
        "CALL db.index.fulltext.listAvailableAnalyzers"
    ).collect()
    assert {r.analyzer for r in rows} >= {"standard", "whitespace", "keyword"}


def test_set_node_vector_property(eng):
    s = one(eng.cypher(
        """MATCH (r:Region) WHERE r.r_regionkey < 2
           CALL db.create.setNodeVectorProperty(r, 'emb', [1.0, 2.0, 3.0])"""
    ))
    assert s.properties_set == 2
    rows = eng.cypher(
        """MATCH (r:Region) WHERE r.emb IS NOT NULL
           RETURN r.r_regionkey AS k, r.emb AS emb ORDER BY k"""
    ).collect()
    assert [r.k for r in rows] == [0, 1]
    assert all(list(r.emb) == [1.0, 2.0, 3.0] for r in rows)


def test_string_vector_query_via_embedder_hook(eng):
    # reference QueryEmbedder hook (executor.go:309-323): a string query
    # embeds server-side; without an embedder it errors helpfully
    from nornicdb_spark.search.embedder import HashingEmbedder, set_query_embedder

    eng.catalog._query_embedder = None
    with pytest.raises(Exception, match="embedder"):
        eng.cypher(
            "CALL db.index.vector.queryNodes('embeddings_cosine', 5, 'spark shuffle')"
        )
    set_query_embedder(eng.catalog, HashingEmbedder(dim=64))
    hits = eng.cypher(
        "CALL db.index.vector.queryNodes('embeddings_cosine', 5, 'spark shuffle')"
    ).collect()
    assert len(hits) == 5
    # deterministic: same text → same ranking
    again = eng.cypher(
        "CALL db.index.vector.queryNodes('embeddings_cosine', 5, 'spark shuffle')"
    ).collect()
    assert [h.node for h in hits] == [h.node for h in again]


def test_fulltext_rel_index_query(eng):
    # reference call_fulltext.go queryRelationships: BM25 over a string
    # property of typed edges, keyed by edge id
    eng.cypher(
        "CREATE (a:Doc {name: 'a'}), (b:Doc {name: 'b'}), "
        "(c:Doc {name: 'c'})"
    )
    eng.cypher(
        "MATCH (a:Doc {name: 'a'}), (b:Doc {name: 'b'}) "
        "CREATE (a)-[:CITES {note: 'spark shuffle deep dive'}]->(b)"
    )
    eng.cypher(
        "MATCH (a:Doc {name: 'a'}), (c:Doc {name: 'c'}) "
        "CREATE (a)-[:CITES {note: 'unrelated gardening tips'}]->(c)"
    )
    eng.cypher(
        """CALL db.index.fulltext.createRelationshipIndex(
             'cites_ft', ['CITES'], ['note'])"""
    )
    hits = eng.cypher(
        """CALL db.index.fulltext.queryRelationships('cites_ft',
             'spark shuffle', 5)
           YIELD relationship, score RETURN relationship, score"""
    ).collect()
    assert len(hits) == 1
    assert hits[0].score > 0
    # unknown rel index name → empty, not an error
    none = eng.cypher(
        "CALL db.index.fulltext.queryRelationships('nope', 'spark', 5)"
    ).collect()
    assert none == []


def test_fulltext_multi_property_index(eng):
    # multi-property fulltext = BM25 over the combined bag (reference
    # extractSearchableText concatenation); a term living only in the
    # second property must still match
    eng.cypher(
        """CALL db.index.fulltext.createNodeIndex(
             'docs_multi', ['Document'], ['text', 'source'])"""
    ).collect()
    src_val = eng.catalog.documents.select("source").first()[0]
    rows = eng.cypher(
        f"""CALL db.index.fulltext.queryNodes('docs_multi', '{src_val}', 5)
            YIELD node, score RETURN node, score"""
    ).collect()
    eng.cypher("CALL db.index.fulltext.drop('docs_multi')").collect()
    assert len(rows) > 0 and all(r.score > 0 for r in rows)


def test_fulltext_weighted_index_boosts(eng):
    # {weights: {...}} config: a 5x-weighted source field must outrank
    # the text field for a term present in both
    eng.cypher(
        """CALL db.index.fulltext.createNodeIndex(
             'docs_weighted', ['Document'], ['text', 'source'],
             {weights: {source: 5.0, text: 1.0}})"""
    ).collect()
    src_val = eng.catalog.documents.select("source").first()[0]
    rows = eng.cypher(
        f"""CALL db.index.fulltext.queryNodes('docs_weighted', '{src_val}', 5)
            YIELD node, score RETURN node, score"""
    ).collect()
    eng.cypher("CALL db.index.fulltext.drop('docs_weighted')").collect()
    assert len(rows) > 0


def test_vector_index_reads_the_engines_store(eng):
    eng.cypher("""MATCH (r:Region) WHERE r.r_regionkey < 2
                  CALL db.create.setNodeVectorProperty(r, 'emb', [1.0, 2.0, 3.0])""")
    one(eng.cypher("CALL db.index.vector.createNodeIndex('reg_emb', 'Region', 'emb', 3)"))
    hits = eng.cypher(
        "CALL db.index.vector.queryNodes('reg_emb', 2, [1.0, 2.0, 3.0])"
    ).collect()
    assert sorted(h.node for h in hits) == [0, 1]
    assert all(h.score == pytest.approx(1.0) for h in hits)


def test_fulltext_index_on_a_created_label_follows_writes(eng, spark, sf_dir):
    eng.cypher("CREATE (:Tag {name: 'spark shuffle'}), (:Tag {name: 'graph'})")
    one(eng.cypher("CALL db.index.fulltext.createNodeIndex('tag_ft', ['Tag'], ['name'])"))
    query = "CALL db.index.fulltext.queryNodes('tag_ft', 'spark', 5)"
    assert len(eng.cypher(query).collect()) == 1
    eng.cypher("CREATE (:Tag {name: 'spark sql'})")
    assert len(eng.cypher(query).collect()) == 2
    # the index definition is shared through the catalog; the built index
    # is not: an Engine whose store has no Tag nodes cannot query it
    with pytest.raises(ValueError, match="no table for index label 'Tag'"):
        Engine(spark, sf_dir).cypher(query)
