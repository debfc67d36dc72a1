"""Entity linking: alias join, weight tie-break, LSH reachability of
edit-variant aliases, parity with the serial LSH oracle,
canonicalization map."""

import pyspark.sql.functions as F
import pytest

from arabicner_spark import oracle, schemas
from arabicner_spark.operators import linking, ner, triples
from arabicner_spark.sources import synth


@pytest.fixture(scope="module")
def linked(spark):
    df = synth.transcripts_df(spark, n_convs=20, seed=42)
    m = ner.extract_mentions(df, synth.gazetteer_dict())
    smap = linking.link_surfaces(m, linking.best_alias(spark, synth.make_alias_rows()))
    return m, smap.collect()


def test_direct_alias_hits_and_tiebreak(spark, linked):
    m, rows = linked
    by_surface = {r.surface: r for r in rows}
    # every surface appears exactly once in the map
    assert len(by_surface) == len(rows)
    # the ambiguous alias الاسد -> two entities; weight 1.0 (PERS
    # E000xxx) must beat weight 0.2 (E900000)
    asad = by_surface["الاسد"]
    assert asad.link_kind == "alias"
    assert asad.canonical_id != "E900000"
    # alias-linked surfaces dominate (gazetteer == alias source)
    kinds = {r.link_kind for r in rows}
    assert "alias" in kinds


def test_oracle_link_agreement(spark, linked):
    m, rows = linked
    alias_rows = synth.make_alias_rows()
    mentions = [
        (r.conv_id, r.turn_idx, r.level, r.type, r.start_tok, r.end_tok, r.text)
        for r in m.collect()
    ]
    want = oracle.oracle_link(mentions, alias_rows)
    got = {r.surface: r.canonical_id for r in rows if r.link_kind == "alias"}
    assert got == want


def test_lsh_reaches_edit_variant(spark):
    """A surface that is an edit-distance-1 variant of an alias (no
    exact hit) must link via LSH + components to that alias' entity."""
    from datetime import datetime, timezone

    # نابلسX-style variant: drop last char of a long alias
    target = "القاهرة"  # normalized: القاهره ; variant القاهر
    rows = [("c1", 0, "user", "زار القاهر أمس", None, datetime(2026, 1, 1, tzinfo=timezone.utc))]
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    gaz = {"GPE": {("القاهر",)}}  # make NER detect the variant surface
    m = ner.extract_mentions(df, gaz)
    smap = {r.surface: (r.canonical_id, r.link_kind) for r in
            linking.link_surfaces(m, linking.best_alias(spark, synth.make_alias_rows())).collect()}
    canon, kind = smap["القاهر"]
    # القاهر is itself an alias row (edit variant planted by
    # make_alias_rows with weight 0.5) OR reachable via LSH; either way
    # it must resolve to القاهرة's entity id
    alias_rows = synth.make_alias_rows()
    from arabicner_spark.functions.normalize import normalize_py
    want = [eid for a, eid, t, w in alias_rows if a == normalize_py(target)][0]
    assert canon == want


def test_canonicalize_triples_rewrites_ids(spark, linked):
    df = synth.transcripts_df(spark, n_convs=20, seed=42)
    m = ner.extract_mentions(df, synth.gazetteer_dict())
    t = triples.extract_triples(m)
    smap = linking.link_surfaces(m, linking.best_alias(spark, synth.make_alias_rows()))
    edges = linking.canonicalize_triples(t, smap)
    assert edges.count() == t.count()
    # every src/dst resolved to an entity id or S: surface
    bad = edges.where(
        ~(F.col("src").startswith("E") | F.col("src").startswith("S:"))
    ).count()
    assert bad == 0
    # gazetteer surfaces must all resolve to E-ids (they are aliases)
    assert edges.where(F.col("src").startswith("S:")).count() == 0


def _mention_tuples(m):
    return [
        (r.conv_id, r.turn_idx, r.level, r.type, r.start_tok, r.end_tok, r.text)
        for r in m.collect()
    ]


def test_link_surfaces_matches_lsh_oracle_on_synth(spark, linked):
    """The whole surface map (alias hits, LSH links, clusters, singles)
    equals the pure-Python MinHash-LSH + union-find reference."""
    m, rows = linked
    want = oracle.oracle_lsh_link(_mention_tuples(m), synth.make_alias_rows())
    got = {r.surface: (r.canonical_id, r.link_kind) for r in rows}
    assert got == want
    assert "lsh" in {k for _c, k in want.values()}


def _one_edit_variants(rng, word, letters):
    i = rng.randrange(len(word))
    return {
        word[:i] + rng.choice(letters) + word[i:],  # insert
        word[:i] + rng.choice(letters.replace(word[i], "")) + word[i + 1 :],  # substitute
        word[:i] + word[i + 1 :],  # delete
    }


@pytest.fixture(scope="module")
def planted(spark):
    """Mentions of planted one-edit variants of dictionary aliases and
    of novel names."""
    import random
    from datetime import datetime, timezone

    from arabicner_spark.functions.normalize import normalize_py

    rng = random.Random(11)
    letters = "بتثجدرزسشصطعفقكلمن"
    aliases = {a for a, *_ in synth.make_alias_rows()}
    novel = ["".join(rng.choice(letters) for _ in range(rng.randint(5, 8))) for _ in range(12)]
    phrases = set(novel)
    for base in sorted(aliases)[:20] + novel:
        for v in _one_edit_variants(rng, base, letters):
            if " " not in v and normalize_py(v) == v and v not in aliases:
                phrases.add(v)
    phrases |= set(sorted(aliases)[20:30])
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [(f"c{k // 4}", k % 4, "user", p, None, ts) for k, p in enumerate(sorted(phrases))]
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    return ner.extract_mentions(df, {"PERS": {(p,) for p in phrases}}).localCheckpoint()


def test_link_surfaces_matches_lsh_oracle_on_planted_variants(spark, planted):
    """Planted one-edit variants of dictionary aliases and of novel
    names: every link kind appears, and the map equals the oracle."""
    alias_rows = synth.make_alias_rows()
    got = {
        r.surface: (r.canonical_id, r.link_kind)
        for r in linking.link_surfaces(planted, linking.best_alias(spark, alias_rows)).collect()
    }
    want = oracle.oracle_lsh_link(_mention_tuples(planted), alias_rows)
    assert got == want
    assert {k for _c, k in want.values()} == {"alias", "lsh", "lsh_cluster", "self"}


def _text_mentions(spark, texts):
    """A frame of the one column ``link_surfaces`` reads, with the
    oracle's mention tuples for it."""
    from arabicner_spark.sources.io import local_table

    return local_table(spark, [(t,) for t in texts], "text string"), [(None,) * 6 + (t,) for t in texts]


def _assert_parity(spark, monkeypatch, m, tuples, alias_rows, **kw):
    """``link_surfaces`` at the driver limits (``DRIVER_SURFACES`` = n,
    the distinct surface count, ``DRIVER_PAIRS`` = the pairs its LSH
    buckets hold) takes the driver map, and equals itself one past
    either limit (the distributed steps) and the serial oracle, with
    the same candidate and verified pair counts: read where perfbench
    reads them on the distributed side, from ``_local_pairs`` on the
    driver.  Returns the map and the counts."""
    from arabicner_spark.functions import hashing
    from arabicner_spark.functions.normalize import normalize_col

    n = m.select(normalize_col(F.col("text")).alias("s")).where(F.length("s") > 0).distinct().count()
    alias_best = linking.best_alias(spark, alias_rows)
    driver, bucket_pairs, cand, ver = [], [], [], []
    real_local, real_bucket_pairs = linking._local_pairs, hashing.local_bucket_pairs
    real_cand, real_cc = hashing.lsh_candidate_pairs, linking.connected_components_adaptive

    def local_pairs(*a):
        got = real_local(*a)
        if got is not None:
            driver.append((len(got[0]), int(got[2].sum())))
        return got

    monkeypatch.setattr(linking, "_local_pairs", local_pairs)
    monkeypatch.setattr(hashing, "local_bucket_pairs", lambda b: bucket_pairs.append(real_bucket_pairs(b)) or bucket_pairs[-1])
    monkeypatch.setattr(hashing, "lsh_candidate_pairs", lambda *a, **k: cand.append(real_cand(*a, **k)) or cand[-1])
    monkeypatch.setattr(linking, "connected_components_adaptive", lambda e, *a, **k: ver.append(e) or real_cc(e, *a, **k))

    def link(surfaces, pairs=10**12):
        monkeypatch.setattr(linking, "DRIVER_SURFACES", surfaces)
        monkeypatch.setattr(linking, "DRIVER_PAIRS", pairs)
        got = linking.link_surfaces(m, alias_best, **kw).collect()
        return {r.surface: (r.canonical_id, r.link_kind) for r in got}

    link(n)
    drv = link(n, bucket_pairs[0])
    assert len(drv) == n and len(driver) == 2 and not cand, "at both limits: the driver map"
    dist = link(n - 1)
    assert len(driver) == 2 and len(cand) == len(ver) == 1, "n == DRIVER_SURFACES + 1 goes distributed"
    assert drv == dist == oracle.oracle_lsh_link(tuples, alias_rows, **kw)
    assert driver[0] == driver[1] == (cand[0].count(), ver[0].count())
    if bucket_pairs[0]:
        dist = link(n, bucket_pairs[0] - 1)
        assert len(driver) == 2 and len(cand) == 2, "one pair past DRIVER_PAIRS goes distributed"
        assert dist == drv
    return drv, driver[0]


def test_driver_map_equals_distributed_on_synth(spark, monkeypatch, linked):
    m, _rows = linked
    # the driver verifies its pairs in many chunks
    monkeypatch.setattr(linking, "VERIFY_SLOTS", 64)
    smap, (n_cand, n_ver) = _assert_parity(spark, monkeypatch, m, _mention_tuples(m), synth.make_alias_rows())
    assert "lsh" in {k for _c, k in smap.values()} and 0 < n_ver < n_cand


def test_driver_map_equals_distributed_on_planted_variants(spark, monkeypatch, planted):
    smap, (n_cand, n_ver) = _assert_parity(
        spark, monkeypatch, planted, _mention_tuples(planted), synth.make_alias_rows()
    )
    assert {k for _c, k in smap.values()} == {"alias", "lsh", "lsh_cluster", "self"}
    assert 0 < n_ver < n_cand


def test_driver_map_equals_distributed_on_empty_mentions(spark, monkeypatch):
    """No surfaces: an empty map on both sides, though the alias nodes
    are still blocked and verified among themselves."""
    m, tuples = _text_mentions(spark, [])
    smap, (n_cand, _n_ver) = _assert_parity(spark, monkeypatch, m, tuples, synth.make_alias_rows())
    assert smap == {} and n_cand > 0


def test_driver_map_equals_distributed_when_every_surface_is_an_alias(spark, monkeypatch):
    alias_rows = synth.make_alias_rows()
    m, tuples = _text_mentions(spark, sorted({a for a, *_ in alias_rows})[:40])
    smap, _counts = _assert_parity(spark, monkeypatch, m, tuples, alias_rows)
    assert {k for _c, k in smap.values()} == {"alias"}


def test_driver_map_equals_distributed_on_edge_texts(spark, monkeypatch):
    """Texts shorter than 3 characters are their own gram; grams of
    non-BMP characters count code points on both sides (Spark ``substr``
    vs Python slicing); سندعل/سندعث share 2 of 4 grams, exactly the
    0.5 threshold, and ققجتتفطن/ققجتتشمست 3 of 10 at 0.3."""
    alias_rows = synth.make_alias_rows() + [("ab", "E_AB", "ORG", 1.0), ("ك😀بتن", "E_EMOJI", "ORG", 1.0)]
    texts = ["a", "ab", "xy", "😀", "😀😀", "😀😀ب", "😀😀ت", "ك😀بت", "😀شمس", "😀شمسي", "سندعل", "سندعث",
             "ققجتتفطن", "ققجتتشمست"]
    m, tuples = _text_mentions(spark, texts)
    smap, _counts = _assert_parity(spark, monkeypatch, m, tuples, alias_rows)
    assert smap["ab"] == ("E_AB", "alias") and smap["a"] == ("S:a", "self")
    assert smap["ك😀بت"] == ("E_EMOJI", "lsh")
    # no shared gram by code point; sliced by UTF-16 unit, 😀😀ب and
    # 😀😀ت would share two grams of four and link
    assert smap["😀😀ب"] == ("S:😀😀ب", "self")
    assert smap["😀شمسي"] == ("S:😀شمس", "lsh_cluster")
    assert smap["سندعث"] == smap["سندعل"] == ("S:سندعث", "lsh_cluster")
    smap, _counts = _assert_parity(spark, monkeypatch, m, tuples, alias_rows, jaccard_threshold=0.3)
    assert smap["ققجتتشمست"] == smap["ققجتتفطن"] == ("S:ققجتتشمست", "lsh_cluster")


def test_oracle_link_nan_weight_matches_best_alias(spark):
    """A NaN weight sorts first descending, whatever the row order:
    both oracles resolve an alias as ``best_alias`` does."""
    nan = float("nan")
    mentions = [(None,) * 6 + ("x",)]
    for rows in ([("x", "E2", "PERS", 1.0), ("x", "E1", "PERS", nan)],
                 [("x", "E1", "PERS", nan), ("x", "E2", "PERS", 1.0)]):
        want = {r.alias: r.entity_id for r in linking.best_alias(spark, rows).collect()}
        assert want == {"x": "E1"}
        assert oracle.oracle_link(mentions, rows) == want
        assert oracle.oracle_lsh_link(mentions, rows) == {"x": ("E1", "alias")}


def test_custom_score_fn_injection(spark):
    """A drop-in scorer that suppresses one level must change decode
    output accordingly (the model injection point works end-to-end)."""
    import numpy as np

    from arabicner_spark.functions import tagcore

    def no_gpe_scorer(norm_tokens, pg, types, msl, enc=None):
        logits = tagcore.score_turn(norm_tokens, pg, types, msl, enc=enc)
        lvl = types.index("GPE")
        logits[:, lvl, :] = 0.0
        logits[:, lvl, tagcore.O_ID] = 1.0
        return logits

    df = synth.transcripts_df(spark, n_convs=6, seed=5)
    gaz = synth.gazetteer_dict()
    base = ner.extract_mentions(df, gaz).collect()
    custom = ner.extract_mentions(df, gaz, score_fn=no_gpe_scorer).collect()
    assert any(r.type == "GPE" for r in base)
    assert not any(r.type == "GPE" for r in custom)
    assert {(r.conv_id, r.turn_idx, r.level, r.start_tok) for r in custom} == {
        (r.conv_id, r.turn_idx, r.level, r.start_tok) for r in base if r.type != "GPE"
    }


def _window_best_alias(alias_df):
    """The window-based best alias the pipeline used before resolving it
    on the driver: the reference for ``linking.best_alias``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("alias").orderBy(F.col("weight").desc(), F.col("entity_id").asc())
    return alias_df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def _duckdb_best_alias(rows):
    """The registry's DuckDB ``alias_best`` SQL over ``rows``."""
    import duckdb

    from arabicner_spark.plans.testdata_queries import _SQL_ALIAS

    body = _SQL_ALIAS.split("alias_best AS (", 1)[1].rsplit(")", 1)[0]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE alias_raw (alias VARCHAR, entity_id VARCHAR, entity_type VARCHAR, weight DOUBLE)")
        con.executemany("INSERT INTO alias_raw VALUES (?, ?, ?, ?)", rows)
        return set(con.execute(body).fetchall())
    finally:
        con.close()


def test_best_alias_parity_with_window_and_duckdb(spark):
    """Driver-side best alias == the window expression == the DuckDB
    gate's alias_best, on weight ties, NaN weights (NaN sorts first
    descending) and duplicate rows."""
    import random

    from arabicner_spark.sources.io import local_table

    nan, inf = float("nan"), float("inf")
    rows = [
        ("tie", "E2", "PERS", 1.0), ("tie", "E1", "ORG", 1.0), ("tie", "E3", "PERS", 0.5),
        ("nan", "E1", "PERS", 5.0), ("nan", "E9", "ORG", nan), ("nan", "E8", "ORG", nan),
        ("dup", "E4", "LOC", 0.2), ("dup", "E4", "LOC", 0.2), ("dup", "E5", "LOC", 0.1),
        ("inf", "E6", "GPE", inf), ("inf", "E7", "GPE", nan), ("neg", "E1", "GPE", -inf),
        ("solo", "E0", "OCC", 0.0),
    ]
    rng = random.Random(7)
    for _ in range(300):
        # the type follows the entity, so rows tied on (weight,
        # entity_id) are duplicates and every engine keeps the same row
        e = rng.randrange(6)
        rows.append((f"a{rng.randrange(40)}", f"E{e}", ["PERS", "ORG"][e % 2], rng.choice([0.0, 0.5, 1.0, nan, -1.0])))
    rows += rows[:50]  # exact duplicates

    def triples_of(df):
        return {(r.alias, r.entity_id, r.entity_type) for r in df.collect()}

    got = triples_of(linking.best_alias(spark, rows))
    assert got == triples_of(_window_best_alias(local_table(spark, rows, schemas.ALIAS_DICT)))
    assert got == _duckdb_best_alias(rows)
    by_alias = {a: e for a, e, _t in got}
    assert len(by_alias) == len(got)
    assert (by_alias["tie"], by_alias["nan"], by_alias["dup"], by_alias["inf"]) == ("E1", "E8", "E4", "E7")


def test_best_alias_rejects_nul_in_entity_id(spark):
    """Alias LSH nodes end the entity id with NUL; an id holding one
    would corrupt the component key, so it is refused up front."""
    with pytest.raises(ValueError):
        linking.best_alias(spark, [("a", "E\x001", "PERS", 1.0)])
