"""Quality/gap/reliability/cross-validation + QA pipeline semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from memory_engine_spark.operators import qa, quality


@pytest.fixture(scope="module")
def graph_data(spark):
    nodes = spark.createDataFrame(
        [("n1", "spark processes big data with distributed joins", "web"),
         ("n2", "spark joins shuffle data across partitions", "web"),
         ("n3", "gardening tips for spring tulips", "blog"),
         ("n4", "spark processes big data with distributed joins", "book"),
         ("n5", "isolated unloved node", "web")],
        "node_id string, content string, source string")
    edges = spark.createDataFrame(
        [("n1", "n2", "RELATED", 0.8), ("n2", "n3", "RELATED", 0.4),
         ("n1", "n4", "SAME_CONTENT", 0.9)],
        "from_id string, to_id string, relation_type string, confidence_score double")
    return nodes, edges


def test_assess_quality_dimensions(graph_data):
    nodes, edges = graph_data
    q = {r["node_id"]: r for r in
         quality.assess_quality(nodes, edges).collect()}
    assert q["n5"]["structural_quality"] == 0.2          # isolated
    assert q["n1"]["structural_quality"] == 0.7          # degree 2
    assert 0 < q["n1"]["content_quality"] <= 1.0
    assert q["n1"]["quality_level"] in ("excellent", "good", "fair", "poor")
    assert abs(q["n1"]["overall_quality"]
               - (q["n1"]["content_quality"] + q["n1"]["structural_quality"]) / 2) < 1e-5


def test_source_reliability(graph_data):
    nodes, _ = graph_data
    scored = nodes.withColumn("q", F.length("content") / 100.0)
    rel = {r["source"]: r for r in
           quality.source_reliability(scored, "source", "q", "node_id").collect()}
    assert rel["web"]["n_items"] == 3
    assert 0 <= rel["web"]["reliability"] <= 1.0
    assert rel["book"]["consistency"] == 1.0  # single item → stddev 0


def test_gaps(graph_data):
    nodes, edges = graph_data
    lonely = [r["node_id"] for r in
              quality.relationship_gaps(nodes, edges).collect()]
    assert lonely == ["n5"]
    gaps = {r["source"]: r["n_items"] for r in
            quality.coverage_gaps(nodes, "source", min_items=2).collect()}
    assert gaps == {"blog": 1, "book": 1}


def test_cross_validate(graph_data):
    nodes, _ = graph_data
    claims = quality.cross_validate(nodes, "content", "source", "node_id").collect()
    assert len(claims) == 1
    c = claims[0]
    assert c["n_sources"] == 2 and c["n_items"] == 2 and c["example_id"] == "n1"


# -- QA ------------------------------------------------------------------------

def test_parse_question_types():
    # Reference-faithful 8-type detection (question_answering.py:95-128);
    # unmatched questions default to factual (:185-186).
    assert qa.parse_question("How many nodes mention spark?").qtype == "factual"
    assert qa.parse_question("Why does shuffle cause spills?").qtype == "causal"
    assert qa.parse_question("What is spark?").qtype == "factual"
    assert qa.parse_question("How are joins related to shuffles?").qtype == "relational"
    assert qa.parse_question("How to tune a shuffle?").qtype == "procedural"
    assert qa.parse_question("Compare spark versus flink").qtype == "comparative"
    assert qa.parse_question("When did the outage start?").qtype == "temporal"
    assert qa.parse_question("Define the meaning of lineage").qtype == "definitional"
    assert qa.parse_question("Patterns in customer churn").qtype == "analytical"
    kw = qa.parse_question("What is the spark shuffle doing?").keywords
    assert "spark" in kw and "shuffle" in kw and "the" not in kw
    ents = qa.parse_question('How does "Apache Spark" compare to Flink?').entities
    assert "Apache Spark" in ents and "Flink" in ents


def test_relevant_nodes_ranking(graph_data):
    nodes, _ = graph_data
    parsed = qa.parse_question("how do spark joins move data")
    top = qa.relevant_nodes(nodes, parsed).collect()
    assert top[0]["node_id"] in ("n1", "n2")
    assert all(r["relevance"] > 0 for r in top)
    ids = {r["node_id"] for r in top}
    assert "n3" not in ids and "n5" not in ids


def test_relevant_nodes_multi_matches_single(graph_data):
    """The one-scan multi-question path (r9) must agree with N
    independent relevant_nodes runs — same rows, same relevance,
    same marker columns — for every question type in the batch."""
    nodes, _ = graph_data
    questions = ["how do spark joins move data",
                 "why does the shuffle spill",
                 "compare broadcast to shuffle joins"]
    parsed_list = [qa.parse_question(q) for q in questions]
    multi = qa.relevant_nodes_multi(nodes, parsed_list, top_k=3)
    got = {}
    for r in multi.collect():
        got.setdefault(r["qtype"], []).append(
            (r["node_id"], r["relevance"], r["has_causal"],
             r["has_procedural"], r["has_definition"]))
    for p in parsed_list:
        single = [(r["node_id"], r["relevance"], r["has_causal"],
                   r["has_procedural"], r["has_definition"])
                  for r in qa.relevant_nodes(nodes, p, top_k=3).collect()]
        assert sorted(got.get(p.qtype, [])) == sorted(single), p.qtype


def test_answer_end_to_end(graph_data):
    nodes, edges = graph_data
    out = qa.answer("how do spark joins process data", nodes, edges)
    assert out["type"] == "factual"
    assert out["answer"] and "spark" in out["answer"]
    assert out["confidence"] > 0
    assert "web" in out["sources"]
    evidence_ids = {e["id"] for e in out["evidence"]}
    assert {"n1", "n2"} <= evidence_ids


def test_answer_no_match(graph_data):
    nodes, edges = graph_data
    out = qa.answer("quantum entanglement protocols", nodes, edges)
    # reference returns the no-information template with confidence 0.1
    # (question_answering.py:618-619,823-824)
    assert out["answer"].startswith("I don't have enough information")
    assert out["confidence"] == 0.1


def test_typed_synthesizers_dispatch():
    ev = [
        {"node_id": "c1", "content":
         "The job slowed down because the shuffle spilled to disk. "
         "This leads to long GC pauses.", "has_causal": True,
         "relevance": 0.8},
        {"node_id": "p1", "content":
         "First repartition the table. Then broadcast the small side. "
         "Finally run the join.", "has_procedural": True, "relevance": 0.6},
        {"node_id": "d1", "content":
         "A shuffle is defined as the redistribution of rows across "
         "partitions.", "has_definition": True, "relevance": 0.5},
    ]
    causal = qa.synthesize_answer(
        qa.parse_question("Why does the job slow down?"), ev)
    assert "because" in causal.lower()
    proc = qa.synthesize_answer(
        qa.parse_question("How to run a broadcast join?"), ev)
    assert proc.startswith("Here's the process:") and "First" in proc
    defn = qa.synthesize_answer(
        qa.parse_question("Define the meaning of shuffle"), ev)
    assert "is defined as" in defn
    ana = qa.synthesize_answer(
        qa.parse_question("Patterns in shuffle behavior"), ev)
    assert ana.startswith("Dominant terms")


def test_comparative_and_temporal_synthesis():
    ev = [
        {"node_id": "a", "content": "Spark uses whole-stage codegen for speed.",
         "relevance": 0.9, "ts": "2024-01-01"},
        {"node_id": "b", "content": "Flink focuses on low-latency streaming.",
         "relevance": 0.7, "ts": "2024-06-01"},
    ]
    comp = qa.synthesize_answer(
        qa.parse_question('How does "Spark" compare to "Flink"?'), ev)
    assert "Regarding Spark:" in comp and "Regarding Flink:" in comp
    temp = qa.synthesize_answer(
        qa.parse_question("When did the codegen change happen?"), ev)
    assert "Earliest" in temp and "2024-01-01" in temp


def test_answer_confidence_formula():
    # question_answering.py:820-841
    assert qa.answer_confidence([]) == 0.1
    assert abs(qa.answer_confidence([0.5]) - 0.3) < 1e-9            # 0.5*0.6
    assert abs(qa.answer_confidence([0.5, 0.5]) - 0.4) < 1e-9       # +0.1
    got = qa.answer_confidence([0.8, 0.8, 0.8])                     # +0.2 +0.2
    assert abs(got - min(0.8 * 0.6 + 0.2 + 0.2, 0.95)) < 1e-9
    assert qa.answer_confidence([1.0] * 10) == 0.95                 # cap


def test_source_attributions_shape():
    ev = [{"node_id": f"n{i}", "content": "x" * 300, "relevance": 0.9}
          for i in range(7)]
    attrs = qa.source_attributions(ev)
    assert len(attrs) == 5  # top-5 cap
    assert attrs[0]["content_snippet"].endswith("...")
    assert len(attrs[0]["content_snippet"]) == 203
    assert attrs[0]["confidence_score"] == 1.0  # 0.9+0.2 capped


# -- graded dimension engine ---------------------------------------------------

def test_content_dimension_components(spark):
    rich = ("# Heading:\n- bullet one\n- bullet two\n\n"
            "This detailed and comprehensive study [1] was verified in 2024. "
            "See https://example.org for the documented 42% results. "
            "It is a thorough process with researched evidence. "
            "The method is validated and confirmed by cited experts. "
            "Dates like 2024-01-15 appear because the reason matters.")
    poor = "draft unclear vague stub"
    df = spark.createDataFrame([("r", rich), ("p", poor)],
                               "node_id string, content string")
    out = {r["node_id"]: r for r in
           quality.content_dimension(df, "content", "node_id").collect()}
    r, p = out["r"], out["p"]
    assert r["structure_score"] == 1.0          # headings+bullets+paras+sents
    assert r["richness_score"] > 0.2            # citations+url+numbers+dates
    assert r["clarity_score"] > 0.6             # many positive indicators
    assert r["completeness_score"] > 0.7        # what/how/why/when addressed
    assert r["content_level"] in ("good", "excellent")
    assert p["length_score"] == 0.2             # < 50 chars
    assert p["clarity_score"] < 0.5             # negative indicators
    assert p["content_level"] in ("poor", "critical")
    assert abs(r["content_score"] * 5
               - (r["length_score"] + r["structure_score"] + r["richness_score"]
                  + r["clarity_score"] + r["completeness_score"])) < 1e-5


def test_structural_dimension_curves(spark):
    edges = spark.createDataFrame(
        [("hub", f"n{i}", t, 0.9) for i, t in enumerate(
            ["part_of", "causes", "enables", "instance_of", "related_to",
             "part_of", "causes", "enables"])]
        + [("n0", "hub", "part_of", 0.9), ("n0", "solo2", "related_to", 0.1)],
        "from_id string, to_id string, relation_type string, confidence_score double")
    out = {r["node_id"]: r for r in
           quality.structural_dimension(edges).collect()}
    hub = out["hub"]
    assert hub["n_relationships"] == 9
    assert hub["connectivity_score"] == 1.0     # > 7 edges
    # specific types get +0.3, generic -0.2, all +0.9*0.2 conf, capped at 1
    assert 0.6 < hub["relationship_quality_score"] <= 1.0
    solo = out["solo2"]
    assert solo["connectivity_score"] == 0.3    # single edge
    assert solo["structural_level"] in ("poor", "critical", "fair")
    # generic related_to with low confidence: 0.5 - 0.2 + 0.02
    assert abs(solo["relationship_quality_score"] - 0.32) < 1e-6


def test_temporal_freshness_and_graded_overall(spark):
    import time as _t
    now = _t.time()
    nodes = spark.createDataFrame(
        [("fresh", "a detailed verified study of the cache process because "
          "reasons during 2024 at this location", now - 10 * 86400),
         ("stale", "an unclear draft", now - 400 * 86400),
         ("nots", "plain text content here", None)],
        "node_id string, content string, ts double")
    edges = spark.createDataFrame(
        [("fresh", "stale", "part_of", 0.8)],
        "from_id string, to_id string, relation_type string, confidence_score double")
    out = {r["node_id"]: r for r in quality.assess_quality_graded(
        nodes, edges, ts_col="ts", now_ts=now).collect()}
    assert out["fresh"]["temporal_score"] == 1.0    # <= 30 days
    assert out["stale"]["temporal_score"] == 0.2    # > 365 days
    assert out["nots"]["temporal_score"] == 0.3     # missing ts
    assert out["nots"]["structural_level"] == "critical"  # no edges
    for r in out.values():
        assert r["overall_level"] in ("excellent", "good", "fair", "poor",
                                      "critical")
        assert abs(r["overall_score"] * 3
                   - (r["content_score"] + r["structural_score"]
                      + r["temporal_score"])) < 1e-5


def test_answer_evidence_carries_markers_and_relevance(spark):
    """Regression: evidence rows reaching the synthesizers must carry
    relevance and the has_* marker columns end to end (they were
    dropped by the expansion join), so causal synthesis engages and
    confidence reflects real relevance."""
    nodes = spark.createDataFrame(
        [("c1", "the spark job slows down because the shuffle spills "
                "to disk under memory pressure", "web"),
         ("c2", "spark shuffle spills happen due to small executors "
                "and this leads to slow jobs", "web"),
         ("c3", "spark shuffle tuning notes for slow jobs", "book")],
        "node_id string, content string, source string")
    edges = spark.createDataFrame(
        [("c1", "c3", "RELATED", 0.9)],
        "from_id string, to_id string, relation_type string, confidence_score double")
    out = qa.answer("why does the spark job slow down with shuffle spills",
                    nodes, edges)
    assert out["type"] == "causal"
    # the causal synthesizer found a causally-marked sentence, not the
    # factual fallback
    assert "because" in out["answer"] or "due to" in out["answer"]
    # confidence reflects real relevance, not the 0-relevance floor
    assert out["confidence"] > 0.3
    assert out["attributions"][0]["relevance_score"] > 0


def test_content_gaps_rules(spark):
    """Hand-checked content-gap semantics (gap_detection.py:150-330):
    expected types, presence detection, severity and priority."""
    from memory_engine_spark.operators.quality import content_gaps

    docs = spark.createDataFrame(
        [  # topic A: definition + example present; "result" triggers
           # the causal expectation AND satisfies 'effect', so only
           # 'cause' is expected-and-missing (n=3 -> medium severity).
           # ('process' can never be missing: its expectation triggers
           # are a subset of its indicators — true in the reference too)
         ("a", "the definition of a spark shuffle"),
         ("a", "for instance the result was good"),
         ("a", "plain filler text"),
         # topic B: nothing present, no causal/process mentions ->
         # missing definition (critical) + example (n=2 -> low)
         ("b", "plain text one"),
         ("b", "plain text two")],
        "topic string, text string")
    out = {(r["topic"], r["missing_type"]): r
           for r in content_gaps(docs, "text", "topic").collect()}
    assert set(out) == {("a", "cause"), ("b", "definition"),
                        ("b", "example")}
    assert out[("a", "cause")]["severity"] == "medium"
    assert out[("b", "definition")]["severity"] == "critical"
    assert out[("b", "example")]["severity"] == "low"
    # priority = base * (0.7 + 0.3*min(n/5,1)): cause n=3 -> 0.6*0.88
    assert abs(out[("a", "cause")]["priority_score"] - 0.6 * 0.88) < 1e-9
    assert abs(out[("b", "definition")]["priority_score"] - 0.9 * 0.82) < 1e-9


def test_example_and_depth_gaps(spark):
    from memory_engine_spark.operators.quality import depth_gaps, example_gaps

    docs = spark.createDataFrame(
        [("a", 1, "for example this one illustrates"),
         ("a", 2, "another"),
         ("b", 3, "no illustrative words here"),
         ("b", 4, "none here either")],
        "topic string, doc_id long, text string")
    eg = example_gaps(docs, "text", "topic").collect()
    assert [r["topic"] for r in eg] == ["b"]

    # short, shallow text -> flagged; long detailed text -> not
    deep = ("Specifically, the comprehensive procedure is detailed "
            "thoroughly. Furthermore it moreover uses 12 CPU cores and "
            "additionally the API QPS is 3.5, clearly and explicitly "
            "documented. " * 3)
    dg = depth_gaps(spark.createDataFrame(
        [(1, "tiny note"), (2, deep)], "doc_id long, text string"),
        "text", "doc_id")
    rows = dg.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["severity"] == "medium"
    assert abs(rows[0]["priority_score"]
               - round(0.5 + rows[0]["depth_score"] * 0.3, 6)) < 1e-9


def test_enhancement_plan_orchestrates_and_ranks(spark):
    from memory_engine_spark.operators.quality import enhancement_plan

    # 1/2: rich, connected docs from a good source; 3: thin isolated
    # doc from a one-doc source; 4/5: a contradiction pair.
    rich = ("The comprehensive verified procedure is documented and "
            "detailed. It is researched, cited and validated. " * 6)
    nodes = spark.createDataFrame(
        [(1, rich, "wiki"), (2, rich + " Further evidenced.", "wiki"),
         (3, "ok", "blog"),
         (4, "the database cache is fast and stable", "wiki"),
         (5, "the database cache is not fast and stable", "wiki")],
        "doc_id long, text string, source string")
    edges = spark.createDataFrame(
        [(1, 2), (4, 5)], "from_id long, to_id long")
    pairs = spark.createDataFrame([(4, 5)], "a long, b long")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    out = enhancement_plan(nodes, edges, pairs, "text", "doc_id",
                           "source", top_n=20)
    # the cached content scores are released inside the call
    assert not persisted() - before
    plan = out.collect()
    by_action = {}
    for r in plan:
        by_action.setdefault(r["action"], []).append(r)
    # contradiction recs for both members of the pair
    assert {r["item_id"] for r in by_action["resolve_contradiction"]} \
        == {"4", "5"}
    # doc 3 is isolated -> fill_gap
    assert {r["item_id"] for r in by_action["fill_gap"]} == {"3"}
    # thin docs score low -> improve_content present, and doc 3's
    # expected improvement reflects 0.6 - content_score
    imp = {r["item_id"]: r for r in by_action["improve_content"]}
    assert "3" in imp
    assert 0 < imp["3"]["expected_improvement"] <= 0.6
    # reference sort quirk: priority strings ascending (high < medium),
    # then improvement descending; ranks contiguous from 1
    assert [r["rank"] for r in plan] == list(range(1, len(plan) + 1))
    pri = [r["priority"] for r in plan]
    assert pri == sorted(pri)
    for a, b in zip(plan, plan[1:]):
        if a["priority"] == b["priority"]:
            assert a["expected_improvement"] >= b["expected_improvement"]


def test_calibration_report_hand_computed(spark):
    """ECE/Brier on a hand-built table: a perfectly calibrated bin
    (conf 0.5, half positive) contributes gap 0; an overconfident
    bin (conf 0.9, none positive) contributes its full confidence
    mass; Brier matches the closed form."""
    from memory_engine_spark.operators.quality import (
        calibration_report)

    rows = [(500, 1), (500, 0),          # bin 5: acc .5, conf .5
            (905, 0), (905, 0)]          # bin 9: acc 0,  conf .905
    df = spark.createDataFrame(rows, "conf_u long, label long")
    out = {r["bin"]: r for r in
           calibration_report(df, "conf_u", "label").collect()}
    assert set(out) == {5, 9}
    assert out[5]["gap_num"] == 0
    assert out[5]["accuracy"] == 0.5 and out[5]["confidence"] == 0.5
    assert out[9]["gap_num"] == 1810 and out[9]["accuracy"] == 0.0
    # ECE = (0 + 1810) / (1000 * 4); Brier = (500^2*2+905^2*2)/4e6
    assert out[5]["ece"] == round(1810 / 4000, 6)
    # exact value 0.5345125 -> Spark ROUND is HALF_UP (not banker's)
    assert out[5]["brier"] == 0.534513
