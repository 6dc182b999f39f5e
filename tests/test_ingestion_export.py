"""Ingestion (extraction, embedding, merge-or-create), export/import,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from memory_engine_spark.operators import ingestion, multimodal
from memory_engine_spark.sources import export


def test_embed_text_deterministic_and_normalized():
    a = ingestion.embed_text("hello world", dim=64)
    b = ingestion.embed_text("hello world", dim=64)
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-5
    c = ingestion.embed_text("different text", dim=64)
    assert not np.array_equal(a, c)


def test_embed_column_matches_local(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "hello world"),
                                (3, "spark")], "id int, txt string")
    out = {r["id"]: r["embedding"] for r in
           ingestion.embed_column(df, "txt", dim=16).collect()}
    assert out[1] == out[2]  # same text → identical vector (cache semantics)
    local = ingestion.embed_text("hello world", 16).tolist()
    assert np.allclose(out[1], local, atol=1e-6)


def test_extract_units_and_nodes(spark):
    df = spark.createDataFrame(
        [("Apache Spark processes large datasets. Short. "
          "Catalyst optimizes the logical plan carefully!", "docs")],
        "body string, src string")
    units = ingestion.extract_units(df, "body", "src").collect()
    contents = [u["content"] for u in units]
    assert len(units) == 2  # 'Short' span < 20 chars dropped
    assert all(u["source"] == "docs" for u in units)
    assert "spark" in units[0]["tags"].split(",")[0] or units[0]["tags"]
    nodes = ingestion.units_to_nodes(
        ingestion.extract_units(df, "body", "src")).collect()
    assert all(n["node_id"].startswith("node_") for n in nodes)
    assert all(0.5 <= n["rating_richness"] <= 1.0 for n in nodes)


def test_merge_or_create_thresholds(spark):
    existing = spark.createDataFrame(
        [("e1", "the quick brown fox jumps over the lazy dog"),
         ("e2", "completely unrelated database engine discussion")],
        "node_id string, content string")
    new = spark.createDataFrame(
        [("n1", "the quick brown fox jumps over the lazy dog"),   # exact → merge
         ("n2", "entirely novel topic about gardening tulips")],  # → create
        "node_id string, content string")
    to_create, merges = ingestion.merge_or_create(new, existing, dim=64)
    m = {(r["new_id"], r["existing_id"]): r["score"] for r in merges.collect()}
    assert ("n1", "e1") in m and m[("n1", "e1")] >= 0.999
    assert {r["node_id"] for r in to_create.collect()} == {"n2"}


# -- export/import ------------------------------------------------------------

@pytest.fixture()
def small_graph(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node_id string")
    edges = spark.createDataFrame(
        [("a", "b", "is_a"), ("b", "c", "part of")],
        "from_id string, to_id string, relation_type string")
    return nodes, edges


def test_json_csv_roundtrip(spark, tmp_path, small_graph):
    nodes, _ = small_graph
    p = str(tmp_path / "nodes_json")
    export.export_json(nodes, p)
    back = export.import_json(spark, p, "node_id string")
    assert back.exceptAll(nodes).isEmpty() and nodes.exceptAll(back).isEmpty()
    p2 = str(tmp_path / "nodes_csv")
    export.export_csv(nodes, p2)
    back2 = export.import_csv(spark, p2, "node_id string")
    assert sorted(r["node_id"] for r in back2.collect()) == ["a", "b", "c"]


def test_graphml_and_cypher(spark, tmp_path, small_graph):
    nodes, edges = small_graph
    gml = str(tmp_path / "g.graphml")
    export.export_graphml(nodes, edges, gml)
    content = open(gml).read()
    assert content.startswith('<?xml')
    assert '<node id="a"/>' in content
    assert '<edge source="a" target="b" label="is_a"/>' in content
    assert content.rstrip().endswith("</graphml>")

    cy = str(tmp_path / "cypher")
    export.export_cypher(nodes, edges, cy)
    lines = [r["value"] for r in spark.read.text(cy).collect()]
    assert any("CREATE (:Node {node_id: 'a'});" == l for l in lines)
    assert any("[:PART_OF]" in l for l in lines)


def test_subgraph_export(spark, tmp_path, small_graph):
    nodes, edges = small_graph
    out = str(tmp_path / "sub")
    export.export_subgraph(nodes, edges, ["a", "b"], out, fmt="json")
    back_nodes = spark.read.json(out + "/nodes")
    back_edges = spark.read.json(out + "/edges")
    assert {r["node_id"] for r in back_nodes.collect()} == {"a", "b"}
    rows = back_edges.collect()
    assert len(rows) == 1 and rows[0]["to_id"] == "b"


def test_xml_roundtrip_and_detect(spark, tmp_path, small_graph):
    nodes, _ = small_graph
    p = str(tmp_path / "nodes.xml")
    export.export_xml(nodes, p, row_tag="node", root_tag="nodes")
    content = open(p).read()
    assert content.startswith("<?xml") and "<node><node_id>a</node_id></node>" in content
    back = export.import_xml(spark, p, row_tag="node")
    assert sorted(r["node_id"] for r in back.collect()) == ["a", "b", "c"]
    assert export.detect_format(p) == "xml"
    assert export.detect_format("x.json") == "json"
    assert export.detect_format("x.csv") == "csv"


def test_import_with_merge(spark, tmp_path):
    existing = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    incoming = spark.createDataFrame(
        [("b", 20), ("b", 21), ("c", 3)], "id string, v int")
    p = str(tmp_path / "incoming_json")
    export.export_json(incoming.orderBy("id", "v"), p)
    merged = export.import_with_merge(spark, p, existing, "id",
                                      schema="id string, v int", fmt="json")
    got = {r["id"]: r["v"] for r in merged.collect()}
    assert got["a"] == 1 and got["c"] == 3
    assert got["b"] in (20, 21)  # in-file duplicate deduped, import wins

    bad = spark.createDataFrame([("x",)], "id string")
    p2 = str(tmp_path / "bad_json")
    export.export_json(bad, p2)
    with pytest.raises(ValueError, match="missing required columns"):
        export.import_with_merge(spark, p2, existing, "id", fmt="json")


def test_engine_nl_query(spark):
    from memory_engine_spark.engine import MemoryEngine
    from memory_engine_spark.session import EngineSession
    s = EngineSession(spark)
    s.register("nodes", spark.createDataFrame(
        [("n1", "spark pipelines", "web", 100.0, .5, .9, .5, ""),
         ("n2", "other topic", "web", 200.0, .5, .3, .5, "")],
        "node_id string, content string, source string, creation_timestamp double, "
        "rating_richness double, rating_truthfulness double, rating_stability double, "
        "tags string"))
    eng = MemoryEngine(s)
    agg = eng.nl_query("how many nodes are there")
    assert agg.results[0]["count"] == 2
    srch = eng.nl_query("find nodes about spark pipelines")
    assert srch.results and srch.results[0]["node_id"] == "n1"
    filt = eng.nl_query("show me the latest nodes with rating above 0.5")
    assert [r["node_id"] for r in filt.results] == ["n1"]


def test_migrate_and_verify(spark, tmp_path, small_graph):
    nodes, _ = small_graph
    assert export.migrate_and_verify(nodes, str(tmp_path / "mig"), spark)


# -- multimodal ----------------------------------------------------------------

def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame(
        [("m1", "image", bytearray(b"\x01\x02"), "image/png", 4, 4, None),
         ("m2", "image", bytearray(b"\x03\x04"), "image/png", 4, 4, None)],
        multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           multimodal.decode_features(df).collect()}
    assert len(out["m1"]["feature"]) == 4
    assert out["m1"]["n_bytes"] == 2
    assert out["m1"]["feature"] != out["m2"]["feature"]  # payload-dependent


def test_multimodal_unknown_kind_raises(spark):
    # 'video' has a frame-sampling schedule but no decoder in this
    # container (image and audio both have deterministic stand-ins)
    df = spark.createDataFrame(
        [("m1", "video", bytearray(b"x"), "video/mp4", None, None, 2.0)],
        multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="no decoder"):
        multimodal.decode_features(df).collect()


def test_multimodal_audio_decoder_dispatch(spark):
    # image = digest column means, audio = row means: per-kind
    # dispatch must produce DIFFERENT features for the same payload
    import hashlib

    import numpy as np
    df = spark.createDataFrame(
        [("i1", "image", bytearray(b"xyz"), "image/png", None, None, None),
         ("a1", "audio", bytearray(b"xyz"), "audio/wav", None, None, None)],
        multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r["feature"]
           for r in multimodal.decode_features(df).collect()}
    h = np.frombuffer(hashlib.md5(b"xyz").digest(), dtype=np.uint8)
    img = [float(h[j::4].astype(np.float32).mean()) for j in range(4)]
    aud = [float(h[4 * j:4 * j + 4].astype(np.float32).mean())
           for j in range(4)]
    assert [round(x, 4) for x in got["i1"]] == [round(x, 4) for x in img]
    assert [round(x, 4) for x in got["a1"]] == [round(x, 4) for x in aud]
    assert got["i1"] != got["a1"]


def test_real_decoder_injection_seam(spark):
    """Round-10 seam demo (r9 verdict item 7): a 'real' mp3 decoder
    injected through decode_features' ``decoders`` parameter switches
    the pipeline output WITHOUT any operator change — proving the
    documented claim that the mp3/aac stand-ins sit behind a seam a
    codec library plugs into. The injected mapping is captured by
    value in the task closure, so it reaches executors (mutating the
    module-global DECODERS would not: workers import the module
    fresh)."""
    import numpy as np

    # a fake 'mp3' payload: frame header + deterministic 'samples'
    payload = b"\xff\xfbMP3" + bytes(range(32))
    df = spark.createDataFrame(
        [("a1", "audio", bytearray(payload), "audio/mpeg",
          None, None, None)],
        multimodal.MEDIA_SCHEMA)

    # default path: the documented stand-in (md5-derived frames)
    stand_in = multimodal.decode_features(df).collect()[0]["feature"]

    def real_mp3_decode(b: bytes) -> np.ndarray:
        # stub for soundfile/ffmpeg: checks the sync word, then
        # returns the 'decoded samples' — here, the payload bytes
        # after the header, shaped (frames, 4)
        assert b[:2] == b"\xff\xfb", "not an mp3 frame"
        s = np.frombuffer(b[5:], dtype=np.uint8).astype(np.float32)
        return s.reshape(-1, 4)

    injected = multimodal.decode_features(
        df, decoders={**multimodal.DECODERS,
                      "audio": real_mp3_decode}).collect()[0]["feature"]

    expect = np.frombuffer(payload[5:], dtype=np.uint8) \
        .astype(np.float32).reshape(-1, 4).mean(axis=0)
    assert [round(x, 4) for x in injected] == \
        [round(float(x), 4) for x in expect]
    assert injected != stand_in
    # the default registry is untouched by the injection
    rerun = multimodal.decode_features(df).collect()[0]["feature"]
    assert rerun == stand_in


def test_frame_sampling(spark):
    df = spark.createDataFrame(
        [("v1", "video", bytearray(b"x"), "video/mp4", None, None, 3.5)],
        multimodal.MEDIA_SCHEMA)
    frames = [r["frame_ts"] for r in
              multimodal.sample_frames(df, every_s=1.0).collect()]
    assert frames == [0.0, 1.0, 2.0, 3.0]


def test_gremlin_rdf_export(spark, tmp_path, small_graph):
    nodes, edges = small_graph
    gr = str(tmp_path / "gremlin")
    export.export_gremlin(nodes, edges, gr)
    lines = [r["value"] for r in spark.read.text(gr).collect()]
    assert any(l == "g.addV('Node').property(id, 'a');" for l in lines)
    assert any(l.startswith("g.V('a').addE('is_a').to(g.V('b'));") for l in lines)

    ttl = str(tmp_path / "g.ttl")
    export.export_rdf(nodes, edges, ttl)
    content = open(ttl).read()
    assert content.startswith("@prefix rdf:")
    assert "kg:node_a rdf:type kg:Node ." in content
    assert "kg:node_a kg:is_a kg:node_b ." in content


def test_networkx_export_node_link(spark, tmp_path, small_graph):
    import json

    nodes, edges = small_graph
    p = str(tmp_path / "nx.json")
    export.export_networkx(nodes, edges, p)
    data = json.load(open(p))
    assert data["directed"] is True
    assert {n["id"] for n in data["nodes"]} == {"a", "b", "c"}
    assert {(l["source"], l["target"]) for l in data["links"]} == {
        ("a", "b"), ("b", "c")}
    try:  # round-trip through the real reader when available
        import networkx as nx
    except ImportError:
        return
    try:
        g = nx.node_link_graph(data, edges="links")  # networkx >= 3.4
    except TypeError:  # older signature defaults to links=
        g = nx.node_link_graph(data)
    assert set(g.nodes) == {"a", "b", "c"} and g.has_edge("a", "b")


def test_subgraph_export_cypher_without_relationships(spark, tmp_path, small_graph):
    nodes, edges = small_graph
    out = str(tmp_path / "sub_cy")
    # Regression: fmt='cypher' with include_relationships=False used to
    # pass edges=None and crash on .select.
    export.export_subgraph(nodes, edges, ["a", "b"], out, fmt="cypher",
                           include_relationships=False)
    lines = [r["value"] for r in spark.read.text(out + "/graph.cypher").collect()]
    assert any("CREATE (:Node {node_id: 'a'});" == l for l in lines)
    assert not any("MATCH" in l for l in lines)


def test_xml_escapes_double_quotes(spark, tmp_path):
    nodes = spark.createDataFrame([('he said "hi"',)], "node_id string")
    edges = spark.createDataFrame(
        [], "from_id string, to_id string, relation_type string")
    p = str(tmp_path / "quoted.graphml")
    export.export_graphml(nodes, edges, p)
    content = open(p).read()
    assert "&quot;hi&quot;" in content and '"hi"' not in content


def test_import_with_merge_deterministic_survivor(spark, tmp_path):
    import json as _json

    p = str(tmp_path / "dups.json")
    rows = [{"id": "a", "v": 9}, {"id": "a", "v": 1}, {"id": "b", "v": 5}]
    with open(p, "w") as fh:
        fh.write("\n".join(_json.dumps(r) for r in rows))
    existing = spark.createDataFrame([("c", 0)], "id string, v int")
    for _ in range(3):  # deterministic across repeated runs
        out = {r["id"]: r["v"] for r in export.import_with_merge(
            spark, p, existing, "id", schema="id string, v int").collect()}
        assert out == {"a": 1, "b": 5, "c": 0}  # min-sorting row wins


def test_embed_column_null_and_empty_text(spark):
    """Regression: NULL text keeps a NULL embedding and is NOT
    duplicated by colliding with empty-string rows on the join key."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None), (4, "")],
        "id int, txt string")
    out = ingestion.embed_column(df, "txt", dim=8).collect()
    assert len(out) == 4                      # no duplication
    by_id = {r["id"]: r["embedding"] for r in out}
    assert by_id[3] is None                   # null stays null
    assert by_id[2] is not None and by_id[2] == by_id[4]


def test_formats_roundtrip_and_sniff(spark, tmp_path):
    from memory_engine_spark.sources import formats

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.25)],
        "id int, name string, score double")

    for fmt, ext in [("parquet", "parquet"), ("orc", "orc"),
                     ("json", "jsonl"), ("csv", "csv")]:
        path = str(tmp_path / f"t.{ext}")
        formats.write_any(df, path, fmt)
        assert formats.sniff_format(path) == fmt
        back = formats.read_any(spark, path)
        got = sorted([(r["id"], r["name"], r["score"])
                      for r in back.collect()])
        assert got == [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.25)]

    # explicit schema wins over csv inference
    path = str(tmp_path / "t2.csv")
    formats.write_any(df, path, "csv")
    back = formats.read_any(spark, path, schema="id long, name string, score string")
    assert dict(back.dtypes)["score"] == "string"

    # part-file directory sniffing (no extension on the dir)
    bare = str(tmp_path / "bare")
    df.write.mode("overwrite").parquet(bare)
    assert formats.sniff_format(bare) == "parquet"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="sniff"):
        formats.sniff_format(str(tmp_path / "unknown.xyz"))


def test_formats_compact_reduces_files(spark, tmp_path):
    from memory_engine_spark.sources import formats

    path = str(tmp_path / "many.parquet")
    spark.range(1000).repartition(16).write.mode("overwrite").parquet(path)
    import os
    n_before = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_before >= 8
    formats.compact(spark, path, target_files=2)
    n_after = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_after <= 2
    assert formats.read_any(spark, path).count() == 1000


def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02" * 3)


def _jpeg(w, h):
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" * 10)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4


def _bmp(w, h):
    return (b"BM" + b"\x00" * 16
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True) + b"\x00" * 4)


def _wav(sample_rate, byte_rate, data_size):
    return (b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + b"data" + data_size.to_bytes(4, "little") + b"\x00" * 8)


def test_probe_media_headers_real_formats(spark):
    avi1 = multimodal.synth_avi(
        np.zeros((12, 6, 10, 3), dtype=np.uint8), fps=4)
    rows = [("png1", _png(640, 480)), ("jpg1", _jpeg(1024, 768)),
            ("gif1", _gif(320, 200)), ("bmp1", _bmp(800, -600)),
            ("wav1", _wav(16000, 32000, 64000)), ("avi1", bytearray(avi1)),
            ("mp31", bytearray(b"ID3\x04\x00\x00\x00\x00\x00\x08"
                               + b"\x00" * 8
                               + bytes([0xFF, 0xFB, 0x90, 0x00])
                               + b"\x00" * 412)),
            ("junk", b"\x00\x01\x02"), ("empty", b"")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.probe_media_headers(df).collect()}
    assert (out["png1"]["format"], out["png1"]["width"],
            out["png1"]["height"]) == ("png", 640, 480)
    assert (out["jpg1"]["format"], out["jpg1"]["width"],
            out["jpg1"]["height"]) == ("jpeg", 1024, 768)
    assert (out["gif1"]["width"], out["gif1"]["height"]) == (320, 200)
    # BMP: negative (top-down) height reported as magnitude
    assert (out["bmp1"]["width"], out["bmp1"]["height"]) == (800, 600)
    assert out["wav1"]["sample_rate"] == 16000
    assert out["wav1"]["duration_s"] == 2.0
    assert (out["avi1"]["format"], out["avi1"]["width"],
            out["avi1"]["height"]) == ("avi", 10, 6)
    assert out["avi1"]["duration_s"] == 3.0  # 12 frames / 4 fps
    assert out["mp31"]["format"] == "mp3"
    assert out["mp31"]["sample_rate"] == 44100  # ID3v2 skipped
    assert out["junk"]["format"] is None
    assert out["empty"]["n_bytes"] == 0


def test_image_dims_sql_matches_python_prober(spark):
    from pyspark.sql import functions as F
    rows = [("a", _png(1920, 1080)), ("b", _gif(33, 44)),
            ("c", _bmp(5000, -4000)), ("d", _jpeg(10, 10)),  # jpeg -> NULL
            ("e", b"short")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    sql_side = {r["media_id"]: r["d"] for r in df.select(
        "media_id",
        multimodal.image_dims_sql(F.col("payload")).alias("d")).collect()}
    py_side = {r["media_id"]: r for r in
               multimodal.probe_media_headers(df).collect()}
    for mid in ("a", "b", "c"):
        assert sql_side[mid]["format"] == py_side[mid]["format"]
        assert sql_side[mid]["width"] == py_side[mid]["width"]
        assert sql_side[mid]["height"] == py_side[mid]["height"]
    # variable-offset (jpeg) and garbage rows fall through to NULL in SQL
    assert sql_side["d"]["format"] is None
    assert sql_side["e"]["format"] is None


def test_decode_wav_pcm_roundtrip_and_variants():
    """Real WAV decode: PCM16 round trip, stereo integer mono-mix,
    8-bit recentering, odd-size chunk word alignment, loud failures
    on junk and non-PCM encodings."""
    import numpy as np
    import pytest as _pytest

    from memory_engine_spark.operators.multimodal import (
        decode_wav_pcm, synth_wav_pcm16, wav_window_energy)

    s = np.array([0, 100, -100, 32767, -32768, 7, -7, 1], dtype=np.int16)
    x, rate, tag = decode_wav_pcm(synth_wav_pcm16(s, sample_rate=16000))
    assert rate == 16000 and tag == 1 and x.tolist() == s.tolist()

    # stereo: interleaved L/R mixes to floor((l+r)/2)
    inter = np.array([100, 200, -100, -201], dtype=np.int16)  # 2 frames
    x2, _, _ = decode_wav_pcm(synth_wav_pcm16(inter, 8000, n_channels=2))
    assert x2.tolist() == [150, (-301) // 2]

    # 8-bit payload: unsigned bytes recenter around 128
    fmt = (b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
           + (8000).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (8).to_bytes(2, "little"))
    data8 = b"data" + (3).to_bytes(4, "little") + bytes([0, 128, 255]) + b"\x00"
    body = b"WAVE" + fmt + data8
    wav8 = b"RIFF" + len(body).to_bytes(4, "little") + body
    x3, _, _ = decode_wav_pcm(wav8)
    assert x3.tolist() == [-128, 0, 127]

    # window energies are exact integer sums / window length
    e = wav_window_energy(synth_wav_pcm16(s, 8000), n_windows=4)
    assert e.tolist() == [(0**2 + 100**2) / 2, (100**2 + 32767**2) / 2,
                          (32768**2 + 7**2) / 2, (7**2 + 1**2) / 2]

    with _pytest.raises(ValueError):
        decode_wav_pcm(b"not a wav at all")
    # non-PCM encoding (IEEE float = 3) fails loudly
    bad_fmt = (b"fmt " + (16).to_bytes(4, "little")
               + (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
               + (8000).to_bytes(4, "little") + (32000).to_bytes(4, "little")
               + (4).to_bytes(2, "little") + (32).to_bytes(2, "little"))
    body2 = b"WAVE" + bad_fmt + b"data" + (0).to_bytes(4, "little")
    with _pytest.raises(NotImplementedError):
        decode_wav_pcm(b"RIFF" + len(body2).to_bytes(4, "little") + body2)


def test_decode_audio_routes_wav_to_real_path():
    """DECODERS['audio'] uses the real PCM path for RIFF/WAVE bytes and
    the md5 stand-in only for non-WAV (codec) payloads."""
    import numpy as np

    from memory_engine_spark.operators.multimodal import (
        decode_audio, fake_decode_audio, synth_wav_pcm16)

    s = np.array([10, -10, 20, -20, 1, 2, 3, 4], dtype=np.int16)
    real = decode_audio(synth_wav_pcm16(s, 8000))
    assert real.shape == (1, 4)
    assert real[0, 0] == (10**2 + 10**2) / 2  # real energies, not digest
    fake = decode_audio(b"\xffcodec-bytes")
    assert np.array_equal(fake, fake_decode_audio(b"\xffcodec-bytes"))


def test_png_unfilter_spec_vectors():
    """decode_png_pixels against HAND-COMPUTED spec vectors (W3C PNG
    §9.2/§9.4), independent of synth_png — a mutually-cancelling
    filter bug in the encode/decode pair would survive roundtrip
    tests AND the q156 oracle (decode(synth(px)) == px either way),
    so the unfilter arithmetic must be pinned against the spec
    directly. Grayscale 3x3, one row per filter type."""
    import zlib

    import numpy as np

    # Row 0, filter 1 (Sub, bpp=1): filt [5, 7, 250]
    #   recon: 5, 5+7=12, (12+250)%256=6
    # Row 1, filter 2 (Up): filt [200, 100, 251]
    #   recon: (200+5)%256=205, (100+12)%256=112, (251+6)%256=1
    # Row 2, filter 4 (Paeth): filt [10, 20, 30], prev=[205,112,1]
    #   k=0: left=0, up=205, ul=0 -> p=205-0? paeth(0,205,0): p=a+b-c=205,
    #        pa=205, pb=0, pc=205 -> pb smallest -> up=205; recon=(10+205)%256=215
    #   k=1: left=215, up=112, ul=205 -> p=215+112-205=122,
    #        pa=|122-215|=93, pb=|122-112|=10, pc=|122-205|=83 -> pb -> 112;
    #        recon=(20+112)%256=132
    #   k=2: left=132, up=1, ul=112 -> p=132+1-112=21,
    #        pa=89, pb=20, pc=91 -> pb -> 1; recon=(30+1)%256=31
    scanlines = bytes([1, 5, 7, 250,
                       2, 200, 100, 251,
                       4, 10, 20, 30])
    ihdr = ((3).to_bytes(4, "big") + (3).to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0]))

    def chunk(ctype, data):
        return (len(data).to_bytes(4, "big") + ctype + data
                + zlib.crc32(ctype + data).to_bytes(4, "big"))

    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(scanlines))
           + chunk(b"IEND", b""))
    px = multimodal.decode_png_pixels(png)
    expected = np.array([[5, 12, 6],
                         [205, 112, 1],
                         [215, 132, 31]], dtype=np.uint8)[:, :, None]
    assert (px == expected).all()

    # Average filter vector (filter 3), RGB so bpp=3:
    # prev row raw = [10, 20, 30, 40, 50, 60], filt=[100,100,100,200,200,200]
    #   k<3: left=0 -> recon = (filt + prev//2) % 256
    #     k=0: 100+5=105; k=1: 100+10=110; k=2: 100+15=115
    #   k=3: left=105, prev=40 -> (200+(105+40)//2)%256=(200+72)%256=16
    #   k=4: left=110, prev=50 -> (200+80)%256=24
    #   k=5: left=115, prev=60 -> (200+87)%256=31
    scan2 = bytes([0, 10, 20, 30, 40, 50, 60,
                   3, 100, 100, 100, 200, 200, 200])
    ihdr2 = ((2).to_bytes(4, "big") + (2).to_bytes(4, "big")
             + bytes([8, 2, 0, 0, 0]))
    png2 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr2)
            + chunk(b"IDAT", zlib.compress(scan2))
            + chunk(b"IEND", b""))
    px2 = multimodal.decode_png_pixels(png2)
    expected2 = np.array([[[10, 20, 30], [40, 50, 60]],
                          [[105, 110, 115], [16, 24, 31]]], dtype=np.uint8)
    assert (px2 == expected2).all()


def test_png_roundtrip_all_filters_and_stats(spark):
    """synth_png -> decode_png_pixels roundtrip over every filter type
    and channel count, plus the png_pixel_stats mapInPandas stage."""
    import numpy as np

    rng = np.random.RandomState(11)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, (7, 5, ch)).astype(np.uint8)
        b = multimodal.synth_png(px, row_filters=[r % 5 for r in range(7)])
        out = multimodal.decode_png_pixels(b)
        assert (out == px).all()

    px = rng.randint(0, 256, (4, 6, 3)).astype(np.uint8)
    payload = multimodal.synth_png(px, row_filters=[4, 3, 2, 1])
    df = spark.createDataFrame([("m1", bytearray(payload))],
                               "media_id string, payload binary")
    row = multimodal.png_pixel_stats(df).collect()[0]
    flat = px.astype(np.int64)
    assert (row["width"], row["height"], row["channels"]) == (6, 4, 3)
    assert row["csum"] == flat.sum(axis=(0, 1)).tolist()
    assert row["csqsum"] == (flat * flat).sum(axis=(0, 1)).tolist()


def test_png_decoder_loud_fail_contract():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_png_pixels(b"not a png")
    # 16-bit depth is out of scope and must raise, not mis-decode
    import zlib

    def chunk(ctype, data):
        return (len(data).to_bytes(4, "big") + ctype + data
                + zlib.crc32(ctype + data).to_bytes(4, "big"))

    ihdr = ((1).to_bytes(4, "big") + (1).to_bytes(4, "big")
            + bytes([16, 0, 0, 0, 0]))
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes([0, 0, 0])))
           + chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError):
        multimodal.decode_png_pixels(png)


def test_bmp_gif_roundtrip_and_hand_vector():
    """BMP/GIF decoders: encode-twin roundtrips (odd widths exercise
    BMP row padding; 256-entry palettes exercise LZW width growth)
    plus a HAND-ASSEMBLED GIF byte vector (spec appendix F bit
    packing) that is independent of our own encoder — the
    mutually-cancelling-bug guard, as with PNG."""
    import numpy as np

    rng = np.random.RandomState(3)
    for (h, w) in [(5, 7), (1, 1), (8, 3)]:
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert (multimodal.decode_bmp_pixels(
            multimodal.synth_bmp(px)) == px).all()
    for npal, (h, w) in [(4, (6, 8)), (256, (40, 50)), (2, (3, 3))]:
        pal = rng.randint(0, 256, (npal, 3)).astype(np.uint8)
        idx = rng.randint(0, npal, (h, w)).astype(np.uint8)
        out = multimodal.decode_gif_pixels(multimodal.synth_gif(idx, pal))
        assert (out == pal[idx]).all()

    # 3x1, 2-color palette, indices [1,0,1], min_code=2:
    # codes clear(4),1,0,1,eoi(5) at width 3, LSB-first packing
    bits = []
    for code in (4, 1, 0, 1, 5):
        for k in range(3):
            bits.append((code >> k) & 1)
    by = bytearray()
    for off in range(0, len(bits), 8):
        v = 0
        for i, bit in enumerate(bits[off:off + 8]):
            v |= bit << i
        by.append(v)
    gif = (b"GIF89a" + (3).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + bytes([0x80, 0, 0])
           + bytes([10, 20, 30, 200, 210, 220])
           + b"\x2C" + b"\x00" * 4 + (3).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + b"\x00" + bytes([2])
           + bytes([len(by)]) + bytes(by) + b"\x00" + b"\x3B")
    out = multimodal.decode_gif_pixels(gif)
    exp = np.array([[[200, 210, 220], [10, 20, 30], [200, 210, 220]]],
                   dtype=np.uint8)
    assert (out == exp).all()


def test_image_decoder_dispatch_and_loud_fail():
    import numpy as np
    import pytest as _pytest

    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    for payload in (multimodal.synth_bmp(px),
                    multimodal.synth_png(px),
                    multimodal.synth_gif(px[:, :, 0] % 4,
                                         np.arange(12, dtype=np.uint8)
                                         .reshape(4, 3))):
        out = multimodal.decode_pixels(payload)
        assert out.shape[2] == 3
    with _pytest.raises(ValueError):
        # malformed JPEG now reaches the real baseline decoder
        multimodal.decode_pixels(b"\xff\xd8jpegish")
    with _pytest.raises(NotImplementedError):
        multimodal.decode_pixels(b"\x00\x01no-such-format")
    with _pytest.raises(NotImplementedError):
        # RLE-compressed BMP must raise, not mis-decode
        bad = bytearray(multimodal.synth_bmp(px))
        bad[30] = 1
        multimodal.decode_bmp_pixels(bytes(bad))


def test_g711_codec_spec_vectors_and_roundtrip():
    """ITU-T G.711 compand/expand pinned against an INDEPENDENT scalar
    transcription of the Sun g711.c reference (all 65536 16-bit
    inputs), plus the spec anchor points (silence = 0xFF mu-law /
    0xD5 A-law) and the expand->compand identity (exact for all 256
    A-law codes; all mu-law codes except 0x7F, the negative-zero the
    complement folds onto 0xFF)."""
    import numpy as np

    def ref_lin2ulaw(s):
        sign = 0x80 if s < 0 else 0
        if s < 0:
            s = -s
        s = min(s, 32635) + 0x84
        e = 7
        for i in range(8):
            if s < (256 << i):
                e = i
                break
        return ~(sign | (e << 4) | ((s >> (e + 3)) & 0x0F)) & 0xFF

    seg_aend = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]

    def ref_lin2alaw(s):
        p = s >> 3
        if p >= 0:
            mask = 0xD5
        else:
            mask, p = 0x55, -p - 1
        seg = 8
        for i, t in enumerate(seg_aend):
            if p <= t:
                seg = i
                break
        aval = (seg << 4) | ((p >> 1) & 0x0F if seg < 2
                             else (p >> seg) & 0x0F)
        return aval ^ mask

    allv = np.arange(-32768, 32768, dtype=np.int64)
    assert (multimodal.ulaw_encode(allv)
            == np.array([ref_lin2ulaw(int(v)) for v in allv])).all()
    assert (multimodal.alaw_encode(allv)
            == np.array([ref_lin2alaw(int(v)) for v in allv])).all()
    assert multimodal.ulaw_encode([0])[0] == 0xFF
    assert multimodal.alaw_encode([0])[0] == 0xD5
    codes = np.arange(256, dtype=np.uint8)
    ui = multimodal.ulaw_encode(multimodal.ulaw_decode(codes))
    ai = multimodal.alaw_encode(multimodal.alaw_decode(codes))
    assert [int(c) for c in codes[ui != codes]] == [0x7F]
    assert (ai == codes).all()
    # quantization error bounded by the top-segment step
    qe = np.abs(multimodal.ulaw_decode(multimodal.ulaw_encode(allv)) - allv)
    assert qe.max() <= 1024  # 644 measured; clip region dominates
    qe = np.abs(multimodal.alaw_decode(multimodal.alaw_encode(allv)) - allv)
    assert qe.max() <= 512


def test_g711_wav_decode_path():
    """decode_wav_pcm dispatches fmt tags 6/7 through the expand LUTs
    and reports the tag; the 18-byte fmt chunk (cbSize) parses."""
    import numpy as np

    s = ((np.arange(400, dtype=np.int64) * 11 + 37) % 65536) - 32768
    for law, tag, enc, dec in (
            ("ulaw", 7, multimodal.ulaw_encode, multimodal.ulaw_decode),
            ("alaw", 6, multimodal.alaw_encode, multimodal.alaw_decode)):
        x, rate, t = multimodal.decode_wav_pcm(
            multimodal.synth_wav_g711(s, law=law, sample_rate=8000))
        assert (rate, t) == (8000, tag)
        assert x.tolist() == dec(enc(s)).tolist()


def test_avi_container_roundtrip_and_sampling(spark):
    """synth_avi -> decode_avi_frames is exact (nested LIST walk,
    rational rate, bottom-up padded BGR rasters, odd widths), the
    loud-fail contract rejects compressed streams, and
    avi_frame_stats samples stride round(every_s*fps) with exact
    int64 sums."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(11)
    fr = rng.integers(0, 256, size=(7, 5, 9, 3), dtype=np.uint8)
    avi = multimodal.synth_avi(fr, fps=6)
    dec, fps = multimodal.decode_avi_frames(avi)
    assert fps == 6 and (dec == fr).all()
    with _pytest.raises(NotImplementedError):
        bad = bytearray(avi)
        # strf biCompression lives right after biBitCount; flip it
        i = avi.find(b"strf")
        bad[i + 8 + 16] = 1
        multimodal.decode_avi_frames(bytes(bad))
    # a corrupt avih width/height is bounded by the payload before the
    # frame raster is allocated
    big = bytearray(avi)
    i = avi.find(b"avih") + 8
    big[i + 32:i + 40] = (1 << 24).to_bytes(4, "little") * 2
    with _pytest.raises(ValueError, match="exceed payload"):
        multimodal.decode_avi_frames(bytes(big))
    with _pytest.raises(ValueError):
        multimodal.decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")

    df = spark.createDataFrame([("v1", bytearray(avi))],
                               "media_id string, payload binary")
    out = multimodal.avi_frame_stats(df, every_s=0.5).collect()
    # stride = round(0.5 * 6) = 3 -> frames 0, 3, 6
    assert [r["frame_idx"] for r in out] == [0, 3, 6]
    for r in out:
        px = fr[r["frame_idx"]].astype(np.int64)
        assert r["psum"] == int(px.sum())
        assert r["psqsum"] == int((px * px).sum())
        assert (r["n_frames"], r["fps"], r["width"], r["height"]) \
            == (7, 6, 9, 5)
        assert r["ts_ms"] == r["frame_idx"] * 1000 // 6


def test_flac_roundtrip_all_subframe_types(spark):
    """synth_flac -> decode_flac is lossless across constant /
    verbatim / fixed(0-4) / LPC subframes, partial last blocks, and
    worst-case noise residuals; both CRCs catch corruption; the
    Arrow feature stage matches a NumPy recompute."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(7)
    for d in range(10):
        n = 64 + (d % 4) * 32 + (16 if d % 5 == 0 else 0)
        k = np.arange(n, dtype=np.int64)
        s = ((d * 37 + k * 13) % 2048) - 1024

        def plan(fi, d=d):
            r = (d + fi) % 7
            if r < 5:
                return ("fixed", r)
            return ("lpc", 2) if r == 5 else ("verbatim", 0)

        dec, sr = multimodal.decode_flac(
            multimodal.synth_flac(s, subframe_plan=plan))
        assert sr == 8000 and (dec == s).all()
    s = np.full(100, -123, dtype=np.int64)
    dec, _ = multimodal.decode_flac(
        multimodal.synth_flac(s, subframe_plan=lambda fi: ("const", 0)))
    assert (dec == s).all()
    s = rng.integers(-32768, 32768, size=200).astype(np.int64)
    flac = multimodal.synth_flac(s, subframe_plan=lambda fi: ("fixed", 4))
    dec, _ = multimodal.decode_flac(flac)
    assert (dec == s).all()
    bad = bytearray(flac)
    bad[-10] ^= 0x40
    with _pytest.raises(ValueError, match="CRC-16"):
        multimodal.decode_flac(bytes(bad))
    bad = bytearray(flac)
    bad[4 + 4 + 34 + 4] ^= 0x01        # first frame's number byte
    with _pytest.raises(ValueError, match="CRC-8"):
        multimodal.decode_flac(bytes(bad))
    with _pytest.raises(ValueError):
        multimodal.decode_flac(b"NOPE")

    df = spark.createDataFrame([("a1", bytearray(flac))],
                               "media_id string, payload binary")
    row = multimodal.flac_audio_features(df, n_windows=4).collect()[0]
    xs = s.astype(np.int64)
    assert row["n_samples"] == 200 and row["sample_rate"] == 8000
    for w in range(4):
        seg = xs[w * 50:(w + 1) * 50]
        assert row["energy"][w] == float(int(seg @ seg)) / 50


def test_flac_short_block_demotion_boundaries():
    """Subframe demotion at the short-block boundaries (r13 ADVICE
    pins): fixed with bs <= order (bs == order would emit a
    zero-residual subframe at the edge of spec validity; bs < order
    would truncate warm-ups) and lpc with bs <= 2 (the hardcoded
    [2,-1] filter's order) both demote to const — or verbatim when
    the block isn't constant — and the demoted streams round-trip."""
    import numpy as np

    SUB = 4 + 4 + 34 + 7      # magic + block hdr + STREAMINFO + frame hdr
    CONST, VERBATIM = 0x00, 0x02   # 0b0_TTTTTT_0 subframe header bytes

    cases = [
        (np.full(3, 7, dtype=np.int64), ("fixed", 3), CONST),
        (np.array([1, 2, 3], dtype=np.int64), ("fixed", 3), VERBATIM),
        (np.array([-5], dtype=np.int64), ("lpc", 2), CONST),
        (np.array([4, -9], dtype=np.int64), ("lpc", 2), VERBATIM),
    ]
    for s, plan, want in cases:
        flac = multimodal.synth_flac(s, subframe_plan=lambda fi: plan)
        assert flac[SUB] == want, (list(s), plan)
        dec, _ = multimodal.decode_flac(flac)
        assert (dec == s).all()

    # multi-block lpc whose final block is 1 sample: pre-fix this
    # truncated blk[:order] below the claimed order and desynced
    s = (np.arange(129, dtype=np.int64) * 11 % 500) - 250
    dec, _ = multimodal.decode_flac(
        multimodal.synth_flac(s, subframe_plan=lambda fi: ("lpc", 2)))
    assert (dec == s).all()


def test_warc_parse_framing_and_spark_stage(spark):
    """WARC parsing honors Content-Length framing (hand-assembled
    byte vector whose response body embeds CRLF CRLF — a blank-line
    splitter truncates it), parses HTTP status/headers inside
    response blocks, and the Spark stage emits per-record facts."""
    import hashlib

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (parse_warc,
                                                     synth_warc,
                                                     warc_records)
    body = b"<p>A\r\n\r\nB tricky</p>"
    http = (b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n"
            b"\r\n" + body)
    # hand-assembled, encoder-independent bytes
    hand = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://h.org/\r\n"
            b"Content-Length: " + str(len(http)).encode()
            + b"\r\n\r\n" + http + b"\r\n\r\n")
    recs = parse_warc(hand)
    assert len(recs) == 1 and recs[0]["http_status"] == 404
    assert recs[0]["body"] == body          # CRLFCRLF survived framing

    w = synth_warc([
        {"warc_type": "warcinfo", "block": b"software: t\r\n"},
        {"warc_type": "request", "uri": "http://h.org/",
         "block": b"GET / HTTP/1.1\r\n\r\n"},
        {"warc_type": "response", "uri": "http://h.org/",
         "block": b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                  b"\r\nhello"}])
    out = parse_warc(w)
    assert [r["warc_type"] for r in out] == ["warcinfo", "request",
                                             "response"]
    assert out[2]["body"] == b"hello"
    with _pytest.raises(ValueError):
        parse_warc(b"NOPE/1.0\r\n\r\n")
    with _pytest.raises(ValueError):
        parse_warc(w[:-6])                  # lost record separator

    df = spark.createDataFrame([("w1", bytearray(w))],
                               "media_id string, payload binary")
    rows = {r["rec_idx"]: r for r in warc_records(df).collect()}
    assert rows[0]["body_md5"] is None and rows[0]["body_len"] == 0
    assert rows[2]["http_status"] == 200
    assert rows[2]["content_type"] == "text/plain"
    assert rows[2]["body_md5"] == hashlib.md5(b"hello").hexdigest()


def test_probe_ogg_and_matroska_headers():
    """Hand-assembled Ogg (Vorbis + Opus) and Matroska/WebM (EBML)
    byte vectors for the metadata probe: codec id from the first
    packet, duration from the last granule (Opus minus pre-skip,
    at the fixed 48 kHz granule rate), EBML DocType/TimestampScale/
    Duration/PixelWidth/PixelHeight."""
    import struct

    def ogg_page(serial, seq, granule, payload, htype=0):
        lace = []
        rem = len(payload)
        while rem >= 255:
            lace.append(255)
            rem -= 255
        lace.append(rem)
        return (b"OggS\x00" + bytes([htype])
                + granule.to_bytes(8, "little", signed=True)
                + serial.to_bytes(4, "little")
                + seq.to_bytes(4, "little") + b"\x00" * 4
                + bytes([len(lace)]) + bytes(lace) + payload)

    vorbis_id = (b"\x01vorbis" + (0).to_bytes(4, "little")
                 + bytes([2]) + (44100).to_bytes(4, "little")
                 + b"\x00" * 12 + b"\x01")
    ogg_v = (ogg_page(7, 0, 0, vorbis_id, htype=2)
             + ogg_page(7, 1, 88200, b"\x00" * 10, htype=4))
    p = multimodal._probe_one(ogg_v)
    assert (p["format"], p["mime"]) == ("ogg", "audio/ogg")
    assert p["sample_rate"] == 44100 and p["duration_s"] == 2.0

    opus_head = (b"OpusHead\x01" + bytes([2])
                 + (312).to_bytes(2, "little")
                 + (16000).to_bytes(4, "little") + b"\x00" * 3)
    ogg_o = (ogg_page(9, 0, 0, opus_head, htype=2)
             + ogg_page(9, 1, 48312, b"\x00" * 4, htype=4))
    p = multimodal._probe_one(ogg_o)
    assert p["mime"] == "audio/opus" and p["sample_rate"] == 16000
    assert p["duration_s"] == 1.0      # (48312 - 312 preskip) / 48000

    def ebml(eid, payload):
        nid = (eid.bit_length() + 7) // 8
        size = len(payload)
        return (eid.to_bytes(nid, "big")
                + bytes([0x80 | size]) + payload)

    header = ebml(0x1A45DFA3, ebml(0x4282, b"webm"))
    info = ebml(0x1549A966,
                ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                + ebml(0x4489, struct.pack(">d", 2500.0)))
    video = ebml(0xE0, ebml(0xB0, (640).to_bytes(2, "big"))
                 + ebml(0xBA, (360).to_bytes(2, "big")))
    tracks = ebml(0x1654AE6B, ebml(0xAE, video))
    segment = ebml(0x18538067, info + tracks)
    p = multimodal._probe_one(header + segment)
    assert (p["format"], p["mime"]) == ("webm", "video/webm")
    assert p["duration_s"] == 2.5      # 2500 ticks x 1e6 ns
    assert (p["width"], p["height"]) == (640, 360)

    # unknown-size Segment (streaming form) still resolves children
    unk = (ebml(0x18538067, b"")[:4] + b"\xff" + info)
    p = multimodal._probe_one(header + unk)
    assert p["duration_s"] == 2.5

    # malformed EBML after the magic: format-only, no crash
    p = multimodal._probe_one(b"\x1aE\xdf\xa3\x00\x00")
    assert p["format"] == "mkv" and p["duration_s"] is None


def test_flac_stereo_decorrelation_roundtrip(spark):
    """All four stereo channel assignments roundtrip losslessly —
    independent, left/side, right/side, mid/side (side at 17 bits;
    mid's dropped low bit recovered from side parity, exercised by
    odd l+r sums) — and the feature stage emits channel-major
    energies."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 96
    lft = rng.integers(-32768, 32768, size=n).astype(np.int64)
    rgt = rng.integers(-32768, 32768, size=n).astype(np.int64)
    rgt[0] = lft[0] + 1                 # force odd l+r at the seam
    for mode in ("indep", "ls", "rs", "ms"):
        dec, sr = multimodal.decode_flac(
            multimodal.synth_flac_stereo(
                lft, rgt, mode_plan=lambda fi, m=mode: m))
        assert dec.shape == (n, 2) and sr == 8000
        assert (dec[:, 0] == lft).all() and (dec[:, 1] == rgt).all(), mode
    flac = multimodal.synth_flac_stereo(lft, rgt)   # rotating plan
    dec, _ = multimodal.decode_flac(flac)
    assert (dec[:, 0] == lft).all() and (dec[:, 1] == rgt).all()

    df = spark.createDataFrame([("s1", bytearray(flac))],
                               "media_id string, payload binary")
    row = multimodal.flac_audio_features(df, n_windows=4).collect()[0]
    assert row["n_channels"] == 2 and row["n_samples"] == n
    win = n // 4
    for c, sig in enumerate((lft, rgt)):
        for w in range(4):
            seg = sig[w * win:(w + 1) * win]
            assert row["energy"][c * 4 + w] \
                == float(int(seg @ seg)) / win


def test_flac_hand_assembled_vector():
    """Encoder-independent FLAC byte vector: hand-built STREAMINFO +
    two frames exercising paths synth_flac never emits — wasted
    bits (frame 0, fixed order 1 at 15 effective bits) and the
    5-bit Rice method with an ESCAPED raw-bits partition (frame 1,
    fixed order 0). A decoder bug that synth/decode share cannot
    cancel here: expected samples are hand-computed."""
    import numpy as np

    class W:
        def __init__(self):
            self.bits = []

        def put(self, v, n):
            self.bits += [(v >> (n - 1 - i)) & 1 for i in range(n)]

        def bytes(self):
            while len(self.bits) % 8:
                self.bits.append(0)
            return bytes(int("".join(map(str, self.bits[i:i + 8])), 2)
                         for i in range(0, len(self.bits), 8))

    def crc8(data):
        c = 0
        for byte in data:
            c ^= byte
            for _ in range(8):
                c = ((c << 1) ^ 0x07 if c & 0x80 else c << 1) & 0xFF
        return c

    def crc16(data):
        c = 0
        for byte in data:
            c ^= byte << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005 if c & 0x8000
                     else c << 1) & 0xFFFF
        return c

    si = W()
    si.put(2, 16), si.put(4, 16), si.put(0, 24), si.put(0, 24)
    si.put(8000, 20), si.put(0, 3), si.put(15, 5), si.put(6, 36)
    stream = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
              + si.bytes() + b"\x00" * 16)

    # frame 0: bs 4, fixed order 1, wasted=1 -> stored [3,4,5,6],
    # decoded [6,8,10,12]; residuals [1,1,1], rice p=1 (u=2: "01"+"0")
    hdr = bytes([0xFF, 0xF8, 0x60, 0x08, 0x00, 0x03])
    hdr += bytes([crc8(hdr)])
    w = W()
    w.put(0, 1), w.put(0b001001, 6), w.put(1, 1)   # fixed o1, wasted flag
    w.put(1, 1)                                    # unary 0 -> wasted 1
    w.put(3, 15)                                   # warmup at eff bits
    w.put(0b00, 2), w.put(0, 4), w.put(1, 4)       # method 0, po 0, p 1
    for _ in range(3):
        w.put(0b010, 3)                            # u=2: q=1,rem=0
    f0 = hdr + w.bytes()
    f0 += crc16(f0).to_bytes(2, "big")

    # frame 1: bs 2, fixed order 0, method-1 ESCAPE raw 5-bit [3, -4]
    hdr = bytes([0xFF, 0xF8, 0x60, 0x08, 0x01, 0x01])
    hdr += bytes([crc8(hdr)])
    w = W()
    w.put(0, 1), w.put(0b001000, 6), w.put(0, 1)
    w.put(0b01, 2), w.put(0, 4)                    # method 1, po 0
    w.put(0x1F, 5), w.put(5, 5)                    # escape, 5 raw bits
    w.put(0b00011, 5), w.put(0b11100, 5)           # 3, -4
    f1 = hdr + w.bytes()
    f1 += crc16(f1).to_bytes(2, "big")

    dec, sr = multimodal.decode_flac(stream + f0 + f1)
    assert sr == 8000
    assert dec.tolist() == [6, 8, 10, 12, 3, -4]
    np.testing.assert_array_equal(dec.dtype.type, np.int32)


def test_mp4_container_roundtrip_and_sampling(spark):
    """synth_mp4 -> decode_mp4_frames is exact (box walk, stsd 'raw '
    validation, stts/stsz/stsc/stco sample resolution), the loud-fail
    contract rejects compressed codecs, mp4_frame_stats samples with
    exact int64 sums, and the header probe reads mvhd/tkhd."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(13)
    fr = rng.integers(0, 256, size=(8, 5, 9, 3), dtype=np.uint8)
    mp4 = multimodal.synth_mp4(fr, fps=6)
    dec, fps = multimodal.decode_mp4_frames(mp4)
    assert fps == 6 and (dec == fr).all()
    with _pytest.raises(NotImplementedError):
        bad = bytearray(mp4)
        i = mp4.find(b"raw ", 16)   # sample-entry fourcc, past ftyp
        bad[i:i + 4] = b"avc1"
        multimodal.decode_mp4_frames(bytes(bad))
    with _pytest.raises(ValueError):
        multimodal.decode_mp4_frames(b"\x00\x00\x00\x08vide1234")

    df = spark.createDataFrame([("v1", bytearray(mp4))],
                               "media_id string, payload binary")
    out = multimodal.mp4_frame_stats(df, every_s=0.5).collect()
    assert [r["frame_idx"] for r in out] == [0, 3, 6]
    for r in out:
        px = fr[r["frame_idx"]].astype(np.int64)
        assert r["psum"] == int(px.sum())
        assert r["psqsum"] == int((px * px).sum())
        assert (r["n_frames"], r["fps"], r["width"], r["height"]) \
            == (8, 6, 9, 5)

    p = multimodal._probe_one(mp4)
    assert (p["format"], p["width"], p["height"]) == ("mp4", 9, 5)
    assert abs(p["duration_s"] - 8 / 6) < 1e-6


def test_mp4_hand_assembled_two_chunk_vector():
    """Encoder-independent ISO-BMFF byte vector (like the GIF one):
    two chunks resolved through a 2-run stsc table, with junk bytes
    BETWEEN the chunks inside mdat — a decoder that assumes samples
    are contiguous (ignoring stco/stsc/stsz) reads the gap and fails
    the pixel compare."""
    import numpy as np

    def box(t, payload):
        return (len(payload) + 8).to_bytes(4, "big") + t + payload

    def full(t, payload, version=0, flags=0):
        return box(t, bytes([version]) + flags.to_bytes(3, "big")
                   + payload)

    def u32(*vs):
        return b"".join(v.to_bytes(4, "big") for v in vs)

    w, h = 2, 1
    s0, s1, s2 = (bytes(range(6)), bytes(range(10, 16)),
                  bytes(range(20, 26)))
    ftyp = box(b"ftyp", b"isom" + u32(0x200))          # 16 bytes
    mdat = box(b"mdat", s0 + s1 + b"XXXX" + s2)        # gap between chunks
    assert len(ftyp) == 16
    off0, off2 = 24, 24 + 6 + 6 + 4                    # absolute offsets
    matrix = u32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = full(b"mvhd", u32(0, 0, 1000, 1000, 0x10000)[:20]
                + (0x0100).to_bytes(2, "big") + b"\x00" * 10
                + matrix + b"\x00" * 24 + u32(2))
    tkhd = full(b"tkhd", u32(0, 0, 1, 0, 1000) + b"\x00" * 8
                + b"\x00" * 8 + matrix + u32(w << 16, h << 16), flags=7)
    mdhd = full(b"mdhd", u32(0, 0, 30, 30)
                + (0x55C4).to_bytes(2, "big") + b"\x00" * 2)
    hdlr = full(b"hdlr", u32(0) + b"vide" + b"\x00" * 12 + b"V\x00")
    entry = (b"\x00" * 6 + (1).to_bytes(2, "big") + b"\x00" * 16
             + w.to_bytes(2, "big") + h.to_bytes(2, "big")
             + u32(0x480000, 0x480000, 0)
             + (1).to_bytes(2, "big") + b"\x00" * 32
             + (24).to_bytes(2, "big") + b"\xff\xff")
    stbl = box(b"stbl",
               full(b"stsd", u32(1) + box(b"raw ", entry))
               + full(b"stts", u32(1, 3, 10))          # 3 samples, fps 3
               + full(b"stsc", u32(2, 1, 2, 1, 2, 1, 1))  # runs (1,2),(2,1)
               + full(b"stsz", u32(0, 3, 6, 6, 6))
               + full(b"stco", u32(2, off0, off2)))
    minf = box(b"minf", full(b"vmhd", b"\x00" * 8, flags=1)
               + box(b"dinf", full(b"dref", u32(1)
                                   + full(b"url ", b"", flags=1)))
               + stbl)
    moov = box(b"moov", mvhd + box(b"trak", tkhd
                                   + box(b"mdia", mdhd + hdlr + minf)))
    payload = ftyp + mdat + moov

    fr, fps = multimodal.decode_mp4_frames(payload)
    assert fps == 3 and fr.shape == (3, 1, 2, 3)
    want = np.array([list(s0), list(s1), list(s2)],
                    dtype=np.uint8).reshape(3, 1, 2, 3)
    assert (fr == want).all()
    p = multimodal._probe_one(payload)
    assert (p["format"], p["width"], p["height"], p["duration_s"]) \
        == ("mp4", 2, 1, 1.0)


def test_ima_adpcm_codec_and_wav_path():
    """IMA-ADPCM: encoder/decoder share the vpdiff state machine so
    decode(encode(s)) is exactly the encoder's predictor walk; the
    header sample passes through verbatim; the WAV 0x11 wrapper
    (fact chunk, nibble packing) decodes through decode_wav_pcm; a
    truncated block fails loudly. Also pins the first decoded values
    of a HAND-WALKED vector (independent of the implementation)."""
    import numpy as np
    import pytest as _pytest

    # hand-walked: s0=0 idx0=0 step=7; s1=100: diff=100>=7 -> delta|=4,
    # diff 93, vpd 0+7; 93>=3 -> delta|=2, diff 90, vpd 10; 90>=1 ->
    # delta|=1, vpd 11 -> pred 11, idx 0+8=8 (step 16)
    # s2=100: diff 89>=16 -> d4, diff 73, vpd 2+16; 73>=8 -> d2, diff 65,
    # vpd 26; 65>=4 -> d1, vpd 30 -> pred 41, idx 8+8=16 (step 34)
    s = np.array([0, 100, 100, 100, 100], dtype=np.int64)
    dec = multimodal.ima_adpcm_decode(multimodal.ima_adpcm_encode(s), 5)
    assert dec[:3].tolist() == [0, 11, 41]

    n = 161
    k = np.arange(n, dtype=np.int64)
    sig = ((k * 13 + 41) % 65536) - 32768
    wav = multimodal.synth_wav_ima(sig, sample_rate=8000)
    x, rate, tag = multimodal.decode_wav_pcm(wav)
    assert (rate, tag) == (8000, 0x11)
    assert x[0] == sig[0]
    ref = multimodal.ima_adpcm_decode(
        multimodal.ima_adpcm_encode(sig), n)
    assert x.tolist() == ref.tolist()
    with _pytest.raises(ValueError):
        multimodal.ima_adpcm_encode(sig[:4])  # even count: no pairing
    with _pytest.raises(ValueError):
        multimodal.ima_adpcm_decode(b"\x00\x00\x00\x00", 100)


def test_jpeg_baseline_codec():
    """Baseline JPEG: (1) a DC-only block decodes to the hand-computed
    flat level (qc=8 -> F=128 -> floor((128*5793^2 + 2^27)/2^28)+128
    = 144 everywhere — pins the fixed-point IDCT scaling end to end);
    (2) random sparse blocks roundtrip through the full entropy
    pipeline (Huffman, DC prediction, ZRL, byte stuffing) to exactly
    the integer IDCT of the coefficients; (3) malformed payloads and
    progressive SOF fail loudly."""
    import numpy as np
    import pytest as _pytest

    dc_only = [0] * 64
    dc_only[0] = 8
    out = multimodal.decode_jpeg_gray(
        multimodal.synth_jpeg_gray([dc_only], 8, 8))
    assert out.shape == (8, 8) and (out == 144).all()

    rng = np.random.default_rng(13)
    blocks = []
    for b in range(4):
        blk = [0] * 64
        for _ in range(6):
            blk[int(rng.integers(0, 64))] = int(rng.integers(-40, 41))
        blk[multimodal._JPEG_ZZ[63]] = 1  # force max-run ZRL handling
        blocks.append(blk)
    dec = multimodal.decode_jpeg_gray(
        multimodal.synth_jpeg_gray(blocks, 16, 16))
    for b in range(4):
        by, bx = divmod(b, 2)
        F = [blocks[b][i] * multimodal._JPEG_QTAB[i] for i in range(64)]
        assert (dec[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                == multimodal._jpeg_idct_block(F)).all()

    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(b"\xff\xd8\x00garbage")
    prog = bytearray(multimodal.synth_jpeg_gray([dc_only], 8, 8))
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2  # progressive SOF
    with _pytest.raises(NotImplementedError):
        multimodal.decode_jpeg_gray(bytes(prog))


def test_jpeg_color_codec():
    """Color baseline JPEG (4:4:4): interleaved-MCU decode recovers
    each component's exact integer IDCT (separate luma/chroma quant +
    Huffman tables, per-component DC predictors), and the YCbCr->RGB
    conversion matches the 16-bit fixed-point formula. Neutral chroma
    (Cb=Cr=128, zero chroma coefficients) must decode to R=G=B=Y."""
    import numpy as np

    rng = np.random.default_rng(19)

    def rand_blocks(n):
        out = []
        for _ in range(n):
            blk = [0] * 64
            for _ in range(5):
                blk[int(rng.integers(0, 64))] = int(rng.integers(-30, 31))
            out.append(blk)
        return out

    ycc = [rand_blocks(4), rand_blocks(4), rand_blocks(4)]
    jp = multimodal.synth_jpeg_color(ycc, 16, 16)
    planes, w, h, samps = multimodal._decode_jpeg_planes(jp)
    assert (w, h) == (16, 16) and len(planes) == 3
    qts = [multimodal._JPEG_QTAB, multimodal._JPEG_QTAB_C,
           multimodal._JPEG_QTAB_C]
    refs = []
    for ci in range(3):
        ref = np.zeros((16, 16), np.uint8)
        for b in range(4):
            by, bx = divmod(b, 2)
            F = [ycc[ci][b][i] * qts[ci][i] for i in range(64)]
            ref[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                multimodal._jpeg_idct_block(F)
        refs.append(ref.astype(np.int64))
        assert (planes[ci] == ref).all()
    rgb = multimodal.decode_jpeg_color(jp).astype(np.int64)
    y, cb, cr = refs[0], refs[1] - 128, refs[2] - 128
    assert (rgb[:, :, 0] == np.clip(
        y + ((91881 * cr + 32768) >> 16), 0, 255)).all()
    assert (rgb[:, :, 1] == np.clip(
        y - ((22554 * cb + 46802 * cr + 32768) >> 16), 0, 255)).all()
    assert (rgb[:, :, 2] == np.clip(
        y + ((116130 * cb + 32768) >> 16), 0, 255)).all()

    # neutral chroma -> gray image (pins the -128 centering + signs)
    zero = [[0] * 64 for _ in range(4)]
    jp2 = multimodal.synth_jpeg_color([ycc[0], zero, zero], 16, 16)
    rgb2 = multimodal.decode_jpeg_color(jp2)
    assert (rgb2[:, :, 0] == rgb2[:, :, 1]).all()
    assert (rgb2[:, :, 1] == rgb2[:, :, 2]).all()
    assert (rgb2[:, :, 0] == planes[0]).all()


def test_jpeg_420_subsampled():
    """4:2:0: the per-MCU interleave (Y00 Y01 Y10 Y11 Cb Cr) places
    each Y block at its T.81 row-major position across two MCUs, the
    chroma planes come back at half resolution, and upsampling is
    2x2 replication. A swapped interleave or a column-major Y order
    would move whole blocks."""
    import numpy as np

    rng = np.random.default_rng(29)

    def rand_blocks(n):
        out = []
        for _ in range(n):
            blk = [0] * 64
            for _ in range(5):
                blk[int(rng.integers(0, 64))] = int(rng.integers(-25, 26))
            out.append(blk)
        return out

    yb, cbb, crb = rand_blocks(8), rand_blocks(2), rand_blocks(2)
    jp = multimodal.synth_jpeg_420(yb, cbb, crb, 32, 16)
    planes, w, h, samps = multimodal._decode_jpeg_planes(jp)
    assert (w, h) == (32, 16) and samps == [(2, 2), (1, 1), (1, 1)]
    assert planes[0].shape == (16, 32) and planes[1].shape == (8, 16)
    for m in range(2):
        for j in range(4):
            byi, bxi = divmod(j, 2)
            F = [yb[4 * m + j][i] * multimodal._JPEG_QTAB[i]
                 for i in range(64)]
            assert (planes[0][byi * 8:(byi + 1) * 8,
                              m * 16 + bxi * 8:m * 16 + bxi * 8 + 8]
                    == multimodal._jpeg_idct_block(F)).all()
    rgb = multimodal.decode_jpeg_color(jp)
    assert rgb.shape == (16, 32, 3)
    # chroma replication: the 2x2 pixel group shares one chroma sample,
    # so R - Y is constant within each group
    y = planes[0].astype(np.int64)
    rr = rgb[:, :, 0].astype(np.int64)
    d = rr - y
    # only where no clamping occurred (interior check on one group)
    interior = (rr > 0) & (rr < 255)
    g00, g01 = d[0::2, 0::2], d[0::2, 1::2]
    m00 = interior[0::2, 0::2] & interior[0::2, 1::2]
    assert (g00[m00] == g01[m00]).all()


def test_jpeg_restart_markers():
    """DRI/RSTn (T.81 E.2.4): a 4-MCU 4:2:0 scan encoded with restart
    intervals 1 and 2 decodes IDENTICALLY to the no-restart encoding
    (proves the encoder's predictor reset + byte-align mirrors the
    decoder's), and an out-of-sequence RSTn fails loudly."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(31)

    def rand_blocks(n):
        out = []
        for _ in range(n):
            blk = [0] * 64
            for _ in range(5):
                blk[int(rng.integers(0, 64))] = int(rng.integers(-25, 26))
            out.append(blk)
        return out

    yb, cbb, crb = rand_blocks(16), rand_blocks(4), rand_blocks(4)
    base = multimodal.decode_jpeg_color(
        multimodal.synth_jpeg_420(yb, cbb, crb, 64, 16))
    for ri in (1, 2):
        jp = multimodal.synth_jpeg_420(yb, cbb, crb, 64, 16,
                                       restart_interval=ri)
        assert (multimodal.decode_jpeg_color(jp) == base).all()
    jp = multimodal.synth_jpeg_420(yb, cbb, crb, 64, 16,
                                   restart_interval=2)
    bad = bytearray(jp)
    bad[jp.find(b"\xff\xd0") + 1] = 0xD5
    with _pytest.raises(ValueError, match="restart marker"):
        multimodal.decode_jpeg_color(bytes(bad))


def test_gzip_member_split_and_stage(spark):
    """Multi-member gzip splits at member boundaries (fresh inflate +
    unused_data handoff), empty members survive, truncation and
    trailing garbage raise, and the Spark stage emits digests."""
    import hashlib
    import zlib

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (gzip_members,
                                                     split_gzip_members)

    def gz(data):
        o = zlib.compressobj(9, zlib.DEFLATED, 31)
        return o.compress(data) + o.flush()

    blob = gz(b"first member") + gz(b"") + gz(b"third\x00bin\xff")
    assert split_gzip_members(blob) == [b"first member", b"",
                                        b"third\x00bin\xff"]
    with _pytest.raises(ValueError, match="truncated"):
        split_gzip_members(blob[:-4])
    with _pytest.raises(ValueError, match="not a gzip header"):
        split_gzip_members(blob + b"JUNK")

    df = spark.createDataFrame([("g1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["member_idx"]: r for r in gzip_members(df).collect()}
    assert rows[0]["n_bytes"] == 12
    assert rows[1]["n_bytes"] == 0
    assert rows[2]["body_md5"] == hashlib.md5(b"third\x00bin\xff") \
        .hexdigest()


def test_charset_sniff_and_decode(spark):
    """BOMs beat content sniffing, invalid-UTF-8 bytes trigger the
    Latin-1 fallback, BOM bytes are stripped before decode, and the
    md5 canonicalizes through UTF-8 re-encoding."""
    import hashlib

    from memory_engine_spark.sources.formats import (
        decode_text_payloads, sniff_text_encoding)

    assert sniff_text_encoding("café".encode("utf-8")) == "utf-8"
    assert sniff_text_encoding(
        "café".encode("latin-1")) == "latin-1"
    assert sniff_text_encoding(
        b"\xef\xbb\xbfhi") == "utf-8-sig"
    assert sniff_text_encoding(
        b"\xff\xfe" + "hi".encode("utf-16-le")) == "utf-16-le"
    assert sniff_text_encoding(
        b"\xfe\xff" + "hi".encode("utf-16-be")) == "utf-16-be"

    rows = [("u8", "naïve ☃".encode("utf-8")),
            ("l1", "naïve".encode("latin-1")),
            ("u16", b"\xff\xfe" + "naïve".encode("utf-16-le")),
            ("sig", b"\xef\xbb\xbf" + "naïve".encode("utf-8"))]
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in rows],
        "media_id string, payload binary")
    out = {r["media_id"]: r
           for r in decode_text_payloads(df).collect()}
    assert out["u8"]["charset"] == "utf-8"
    assert out["l1"]["charset"] == "latin-1"
    assert out["u16"]["charset"] == "utf-16-le"
    assert out["sig"]["charset"] == "utf-8-sig"
    for key, want in (("l1", "naïve"), ("u16", "naïve"),
                      ("sig", "naïve")):
        assert out[key]["n_chars"] == len(want)
        assert out[key]["text_md5"] == hashlib.md5(
            want.encode("utf-8")).hexdigest()


def test_pdf_text_extraction(spark):
    """PDF roundtrip through the REAL structure (xref offsets, object
    graph, /Length-sliced FlateDecode streams, Tj + TJ operators,
    string escapes incl. octal), the Spark stage, and loud-fail
    contracts for junk / truncation / unsupported filters."""
    import hashlib

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (pdf_page_texts,
                                                     pdf_texts,
                                                     synth_pdf)
    pages = ["Hello (world) one", "Back\\slash two", "Three"]
    for compress in (True, False):
        assert pdf_page_texts(synth_pdf(pages, compress)) == pages
    # octal escape decoded (\101 = 'A') — same-LENGTH patch of a raw
    # stream (changing lengths would invalidate /Length and the xref
    # offsets, which the strict parser rightly rejects)
    raw = synth_pdf(["ABCD"], compress=False)
    assert pdf_page_texts(raw) == ["ABCD"]
    patched = raw.replace(b"(ABCD) Tj", b"(\\101) Tj")
    assert pdf_page_texts(patched) == ["A"]

    with _pytest.raises(ValueError):
        pdf_page_texts(b"NOPE")
    with _pytest.raises(ValueError):
        pdf_page_texts(synth_pdf(["x"])[:-30])

    blob = synth_pdf(pages)
    df = spark.createDataFrame([("p1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["page_idx"]: r for r in pdf_texts(df).collect()}
    assert len(rows) == 3
    for k, txt in enumerate(pages):
        assert rows[k]["n_chars"] == len(txt)
        assert rows[k]["text_md5"] == hashlib.md5(
            txt.encode("utf-8")).hexdigest()


def test_tiff_codec_endianness_strips_packbits(spark):
    """TIFF roundtrips across II/MM byte orders, multi-strip layout
    with short last strips, and PackBits; a hand-assembled PackBits
    vector pins the run/literal/noop semantics independently of the
    encoder; the probe reads dimensions from both byte orders."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(21)
    for be in (False, True):
        for pb in (False, True):
            px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
            t = multimodal.synth_tiff(px, big_endian=be, packbits=pb)
            assert (multimodal.decode_tiff_pixels(t) == px).all()
            p = multimodal._probe_one(t)
            assert (p["format"], p["width"], p["height"]) \
                == ("tiff", 7, 5)
    # hand vector: literal(2 bytes) + run(3x 0xAB) + noop + literal(1)
    hand = bytes([1, 0x10, 0x20, 254, 0xAB, 128, 0, 0x30])
    assert multimodal._packbits_decode(hand, 6) \
        == bytes([0x10, 0x20, 0xAB, 0xAB, 0xAB, 0x30])
    with _pytest.raises(ValueError):
        multimodal._packbits_decode(hand[:3], 6)
    with _pytest.raises(NotImplementedError):
        bad = bytearray(multimodal.synth_tiff(
            np.zeros((2, 2, 3), dtype=np.uint8)))
        i = bad.find((259).to_bytes(2, "little"))
        bad[i + 8] = 5                      # LZW compression tag
        multimodal.decode_tiff_pixels(bytes(bad))

    df = spark.createDataFrame(
        [("t1", bytearray(multimodal.synth_tiff(
            np.full((4, 6, 3), 9, dtype=np.uint8), packbits=True)))],
        "media_id string, payload binary")
    row = multimodal.image_pixel_stats(df).collect()[0]
    assert (row["width"], row["height"]) == (6, 4)
    assert row["csum"][0] == 4 * 6 * 9


def test_tar_ustar_cross_validated(spark):
    """TAR walk cross-validated against STDLIB tarfile in BOTH
    directions (independent third implementation): tarfile reads our
    synth, our parser reads tarfile's output; blanked-field checksum
    verification catches corruption; the Spark stage emits digests."""
    import hashlib
    import io
    import tarfile

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (parse_tar,
                                                     synth_tar,
                                                     tar_entries)
    entries = [("a/x.txt", b"hello world"), ("a/empty", b""),
               ("b/big.bin", bytes(range(256)) * 3)]
    blob = synth_tar(entries)
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    for (name, data), m in zip(entries, tf.getmembers()):
        assert m.name == name
        assert tf.extractfile(m).read() == data

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as w:
        for name, data in entries:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            w.addfile(ti, io.BytesIO(data))
    assert [(e["name"], e["body"]) for e in parse_tar(buf.getvalue())] \
        == entries

    bad = bytearray(blob)
    bad[150] ^= 1
    with _pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(bad))
    with _pytest.raises(ValueError, match="terminator"):
        parse_tar(blob[:-1024])

    df = spark.createDataFrame([("t1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["entry_idx"]: r for r in tar_entries(df).collect()}
    assert rows[1]["n_bytes"] == 0
    assert rows[2]["body_md5"] == hashlib.md5(
        bytes(range(256)) * 3).hexdigest()


def test_zip_central_directory_cross_validated(spark):
    """ZIP parse goes THROUGH the central directory (a decoy
    'PK\\x03\\x04' inside a member body is inert), stdlib zipfile
    accepts our synth and we read stdlib's output (Stored+Deflate),
    CRC corruption is caught, and the Spark stage emits digests."""
    import hashlib
    import io
    import zipfile

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (parse_zip,
                                                     synth_zip,
                                                     zip_entries)
    entries = [("a.txt", b"fake sig PK\x03\x04 embedded"),
               ("b/c.bin", bytes(range(200)) * 5),
               ("empty", b"")]
    blob = synth_zip(entries)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    for name, data in entries:
        assert zf.read(name) == data
    out = parse_zip(blob)
    assert [(e["name"], e["body"]) for e in out] == entries
    assert out[0]["method"] == 0 and out[1]["method"] == 8

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as w:
        w.writestr("s.txt", b"hello", compress_type=zipfile.ZIP_STORED)
        w.writestr("d.txt", b"x" * 500,
                   compress_type=zipfile.ZIP_DEFLATED)
    assert [(e["name"], e["body"]) for e in parse_zip(buf.getvalue())] \
        == [("s.txt", b"hello"), ("d.txt", b"x" * 500)]

    bad = bytearray(blob)
    bad[blob.find(b"fake") + 1] ^= 1
    with _pytest.raises(ValueError, match="CRC"):
        parse_zip(bytes(bad))
    with _pytest.raises(ValueError, match="EOCD"):
        parse_zip(b"PK\x03\x04 not a real zip")

    df = spark.createDataFrame([("z1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["entry_idx"]: r for r in zip_entries(df).collect()}
    assert rows[2]["n_bytes"] == 0
    assert rows[1]["body_md5"] == hashlib.md5(
        bytes(range(200)) * 5).hexdigest()


def test_tfrecord_masked_crc32c(spark):
    """CRC-32C pinned to the standard check value, masked-CRC frame
    walk roundtrips (incl. empty records), length-word corruption is
    caught BEFORE the bogus length is trusted, payload corruption
    caught, and the Spark stage emits digests."""
    import hashlib

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (_crc32c,
                                                     parse_tfrecord,
                                                     synth_tfrecord,
                                                     tfrecord_entries)
    assert _crc32c(b"123456789") == 0xE3069283
    recs = [b"first", b"", b"\x00\xff" * 100]
    blob = synth_tfrecord(recs)
    assert parse_tfrecord(blob) == recs
    bad = bytearray(blob)
    bad[3] ^= 1                          # corrupt the length word
    with _pytest.raises(ValueError, match="length CRC"):
        parse_tfrecord(bytes(bad))
    bad = bytearray(blob)
    bad[13] ^= 1                         # corrupt the payload
    with _pytest.raises(ValueError, match="payload CRC"):
        parse_tfrecord(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        parse_tfrecord(blob[:-2])

    df = spark.createDataFrame([("f1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["rec_idx"]: r for r in tfrecord_entries(df).collect()}
    assert rows[1]["n_bytes"] == 0
    assert rows[2]["body_md5"] == hashlib.md5(b"\x00\xff" * 100) \
        .hexdigest()


def test_parquet_footer_vs_duckdb_real_files():
    """Hand-rolled thrift-compact footer parser vs DuckDB's parquet
    reader on every REAL test file: num_rows, row-group count,
    per-row-group rows AND column-chunk counts must agree — two
    unrelated implementations on the same bytes."""
    import glob

    import duckdb
    import pytest as _pytest

    from memory_engine_spark.sources.formats import parquet_footer_meta

    con = duckdb.connect()
    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    assert len(paths) == 10
    for path in paths:
        with open(path, "rb") as f:
            m = parquet_footer_meta(f.read())
        nr, ng = con.execute(
            "SELECT num_rows, num_row_groups "
            f"FROM parquet_file_metadata('{path}')").fetchone()
        assert m["num_rows"] == nr
        assert len(m["row_groups"]) == ng
        for (gid, g_rows, g_cols), mine in zip(
                con.execute(
                    "SELECT row_group_id, MAX(row_group_num_rows), "
                    f"COUNT(*) FROM parquet_metadata('{path}') "
                    "GROUP BY 1 ORDER BY 1").fetchall(),
                m["row_groups"]):
            assert g_rows == mine["num_rows"], (path, gid)
            assert g_cols == mine["n_columns"], (path, gid)
    with _pytest.raises(ValueError):
        parquet_footer_meta(b"PAR1 not really")


def test_avro_container_blocks_and_zigzag(spark):
    """Avro container roundtrips (null + deflate codecs, negative /
    zero / >32-bit ids through zigzag varints, short last block),
    sync corruption is caught, and the Spark stage emits per-record
    facts."""
    import hashlib

    import pytest as _pytest

    from memory_engine_spark.sources.formats import (avro_pair_entries,
                                                     parse_avro_pairs,
                                                     synth_avro_pairs)
    recs = [(1, "alpha"), (-42, "négative é"), (0, ""),
            (7, "x" * 300), (2 ** 40, "big")]
    for deflate in (False, True):
        m = parse_avro_pairs(synth_avro_pairs(recs, block_size=2,
                                              deflate=deflate))
        assert m["records"] == recs
        assert m["blocks"] == [2, 2, 1]
        assert m["codec"] == ("deflate" if deflate else "null")
    bad = bytearray(synth_avro_pairs(recs))
    bad[-3] ^= 1
    with _pytest.raises(ValueError, match="sync"):
        parse_avro_pairs(bytes(bad))
    with _pytest.raises(ValueError):
        parse_avro_pairs(b"Obj\x02nope")

    blob = synth_avro_pairs(recs, block_size=2)
    df = spark.createDataFrame([("a1", bytearray(blob))],
                               "media_id string, payload binary")
    rows = {r["rec_idx"]: r for r in avro_pair_entries(df).collect()}
    assert rows[1]["pair_id"] == -42
    assert rows[1]["text_md5"] == hashlib.md5(
        "négative é".encode()).hexdigest()
    assert rows[0]["n_blocks"] == 3


def test_ogg_packet_walk_crc_and_reassembly(spark):
    """Round-8 Ogg container walk: real page CRC (unreflected
    0x04C11DB7 — verified against the RFC's algorithm by detecting a
    post-seal bit flip), lacing reassembly across continuation pages
    (600-byte packet = [255,255] + continued [90]), exact-255-multiple
    terminator, BOS/EOS flags, end-page granule."""
    import hashlib

    from memory_engine_spark.operators.multimodal import (ogg_packets,
                                                          synth_ogg)

    vorbis_id = (b"\x01vorbis" + (0).to_bytes(4, "little")
                 + bytes([2]) + (44100).to_bytes(4, "little")
                 + b"\x00" * 12 + b"\x01")
    pkts = [vorbis_id, b"cmt:unit", b"A" * 600, b"B" * 510, b"end"]
    grans = [0, 0, 960, 1920, 2880]
    clean = synth_ogg(pkts, serial=5, granules=grans)
    bad = synth_ogg(pkts, serial=5, granules=grans,
                    corrupt=(2, 0, 0x01))     # flip 'A'->'@' post-CRC

    df = spark.createDataFrame(
        [("ok", bytearray(clean)), ("bad", bytearray(bad))],
        "media_id string, payload binary")
    out = {(r["media_id"], r["packet_idx"]): r
           for r in ogg_packets(df).collect()}

    r0 = out[("ok", 0)]
    assert (r0["kind"], r0["channels"], r0["sample_rate"],
            r0["bos"], r0["content_md5"]) == \
        ("vorbis_id", 2, 44100, True, None)
    r1 = out[("ok", 1)]
    assert (r1["kind"], r1["n_bytes"],
            r1["content_md5"]) == \
        ("comment", 8, hashlib.md5(b"cmt:unit").hexdigest())
    r2 = out[("ok", 2)]
    assert (r2["pages_spanned"], r2["n_bytes"], r2["granule"],
            r2["crc_ok"]) == (2, 600, 960, True)
    r3 = out[("ok", 3)]           # exact 510 = [255,255,0] lacing
    assert (r3["pages_spanned"], r3["n_bytes"]) == (1, 510)
    r4 = out[("ok", 4)]
    assert (r4["eos"], r4["granule"]) == (True, 2880)
    assert all(out[("ok", i)]["crc_ok"] for i in range(5))

    # corruption: only packet 2's pages fail CRC; its md5 reflects
    # the corrupted bytes as-read.
    assert out[("bad", 2)]["crc_ok"] is False
    assert out[("bad", 2)]["content_md5"] == \
        hashlib.md5(b"@" + b"A" * 599).hexdigest()
    for i in (0, 1, 3, 4):
        assert out[("bad", i)]["crc_ok"] is True, i


def test_mkv_block_walk_crc_and_lacing(spark):
    """Round-9 Matroska/EBML container walk: element-size tree,
    cluster CRC-32 element (IEEE, little-endian) detecting a
    post-seal flip, and frame reassembly under all three lacing
    modes — Xiph 255-runs (303-byte frame → [255,48]), fixed
    equal-split, EBML signed-diff vints — plus the no-lacing path,
    track vints, cluster+relative timestamps, and the loud-fail
    contract on truncation."""
    import hashlib

    import pytest

    from memory_engine_spark.operators.multimodal import (mkv_blocks,
                                                          synth_mkv)

    xiph = [b"a0:s", b"a1:" + b"Y" * 300, b"a2:t"]
    fixed = [bytes([65 + i]) * 150 for i in range(4)]
    ebml_l = [b"e0:abcdefgh", b"e1:#"]
    # 3-frame EBML lacing exercises the signed-diff vints: +60 then
    # -93 (negative diff needs the bias encoding both ways)
    ebml3 = [b"x" * 40, b"y" * 100, b"z" * 7]
    clusters = [
        (1003, [(1, 0, True, "none", [b"k0:frame"]),
                (2, 20, False, "xiph", xiph)]),
        (2003, [(1, 0, True, "fixed", fixed),
                (2, 20, False, "ebml", ebml_l)]),
        (3003, [(2, -5, False, "ebml", ebml3)]),
    ]
    clean = synth_mkv("matroska", 1_000_000, (320, 240), clusters)
    bad = synth_mkv("webm", 1_000_000, (320, 240), clusters,
                    corrupt=(1, 0, 0, 0x01))    # flip 'A'->'@' post-CRC

    df = spark.createDataFrame(
        [("ok", bytearray(clean)), ("bad", bytearray(bad))],
        "media_id string, payload binary")
    out = {(r["media_id"], r["cluster_idx"], r["block_idx"]): r
           for r in mkv_blocks(df).collect()}

    r00 = out[("ok", 0, 0)]
    assert (r00["doctype"], r00["track"], r00["ts_ms"],
            r00["keyframe"], r00["lacing"], r00["n_frames"],
            r00["frames_md5"]) == \
        ("matroska", 1, 1003, True, "none", 1,
         hashlib.md5(b"k0:frame").hexdigest())
    r01 = out[("ok", 0, 1)]
    assert (r01["track"], r01["ts_ms"], r01["keyframe"],
            r01["lacing"], r01["n_frames"], r01["n_bytes"],
            r01["frames_md5"]) == \
        (2, 1023, False, "xiph", 3, 4 + 303 + 4,
         hashlib.md5(b"".join(xiph)).hexdigest())
    r10 = out[("ok", 1, 0)]
    assert (r10["lacing"], r10["n_frames"], r10["n_bytes"],
            r10["frames_md5"]) == \
        ("fixed", 4, 600, hashlib.md5(b"".join(fixed)).hexdigest())
    r11 = out[("ok", 1, 1)]
    assert (r11["lacing"], r11["n_frames"], r11["frames_md5"]) == \
        ("ebml", 2, hashlib.md5(b"".join(ebml_l)).hexdigest())
    r20 = out[("ok", 2, 0)]        # negative rel ts + signed diffs
    assert (r20["ts_ms"], r20["lacing"], r20["n_frames"], r20["n_bytes"],
            r20["frames_md5"]) == \
        (2998, "ebml", 3, 147, hashlib.md5(b"".join(ebml3)).hexdigest())
    assert all(r["crc_ok"] for k, r in out.items() if k[0] == "ok")

    # corruption: cluster 1's CRC fails, cluster 0's still passes;
    # the md5 reflects the corrupted bytes as-read.
    assert out[("bad", 0, 0)]["doctype"] == "webm"
    assert out[("bad", 0, 0)]["crc_ok"] is True
    assert out[("bad", 1, 0)]["crc_ok"] is False
    assert out[("bad", 1, 1)]["crc_ok"] is False
    corrupted = bytes([65 ^ 1]) + fixed[0][1:] + b"".join(fixed[1:])
    assert out[("bad", 1, 0)]["frames_md5"] == \
        hashlib.md5(corrupted).hexdigest()

    # structural violations raise loudly
    with pytest.raises(Exception):
        mkv_blocks(spark.createDataFrame(
            [("t", bytearray(clean[:-5]))],
            "media_id string, payload binary")).collect()
    with pytest.raises(Exception):
        mkv_blocks(spark.createDataFrame(
            [("t", bytearray(b"nonsense"))],
            "media_id string, payload binary")).collect()


def test_mkv_lacing_adversarial_bounds(spark):
    """Round-10 ADVICE regressions on externally-produced (non-synth)
    SimpleBlocks: (a) an all-ones lace-size vint (0xFF = 127 for one
    byte) is a representable SIZE, not the unknown-size streaming
    sentinel — the old ``_ebml_vint`` reuse returned -1 and silently
    mis-split frames; (b) Xiph 255-run reads and frame slices are
    bounded by the BLOCK end, so a block whose lace sizes overrun
    into the next element loud-fails instead of silently eating it."""
    import hashlib
    import zlib

    import pytest

    from memory_engine_spark.operators.multimodal import (
        _ebml_elem, _ebml_encode_size, _ebml_lace_diff, _ebml_uint,
        _xiph_runs, mkv_blocks)

    def block(track, flags, lace_header, frames):
        body = bytearray()
        body += _ebml_encode_size(track)
        body += (0).to_bytes(2, "big", signed=True)
        body.append(flags)
        body += lace_header
        for f in frames:
            body += f
        return _ebml_elem(0xA3, bytes(body))

    def file_of(blocks):
        head = _ebml_elem(0x1A45DFA3, b"".join([
            _ebml_elem(0x4286, _ebml_uint(1)),
            _ebml_elem(0x42F7, _ebml_uint(1)),
            _ebml_elem(0x4282, b"matroska")]))
        info = _ebml_elem(0x1549A966,
                          _ebml_elem(0x2AD7B1, _ebml_uint(1_000_000)))
        tracks = _ebml_elem(0x1654AE6B, _ebml_elem(0xAE, b"".join([
            _ebml_elem(0xD7, _ebml_uint(1)),
            _ebml_elem(0x83, _ebml_uint(1)),
            _ebml_elem(0x86, b"V_STUB")])))
        body = _ebml_elem(0xE7, _ebml_uint(0)) + b"".join(blocks)
        crc = _ebml_elem(0xBF, zlib.crc32(body).to_bytes(4, "little"))
        cluster = _ebml_elem(0x1F43B675, crc + body)
        return head + _ebml_elem(0x18538067, info + tracks + cluster)

    # (a) EBML lacing, first size = 0xFF (all-ones 1-byte vint = 127).
    # synth_mkv never emits all-ones (its encoder escalates width),
    # so this file is assembled by hand the way a foreign muxer may.
    f0, f1, f2 = b"A" * 127, b"B" * 10, b"C" * 5
    lace = bytes([2]) + b"\xff" + _ebml_lace_diff(len(f1) - len(f0))
    good = file_of([block(1, 0x80 | 0x06, lace, [f0, f1, f2])])
    rows = mkv_blocks(spark.createDataFrame(
        [("m", bytearray(good))],
        "media_id string, payload binary")).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["lacing"], r["n_frames"], r["n_bytes"], r["crc_ok"]) == \
        ("ebml", 3, 142, True)
    assert r["frames_md5"] == hashlib.md5(f0 + f1 + f2).hexdigest()

    # (b) Xiph sizes overrun the block: 200 claimed, 50 present, and a
    # second well-formed block follows — the old file-bounded loop
    # would consume ITS bytes as frame data.
    bad_xiph = file_of([
        block(1, 0x02, bytes([1]) + _xiph_runs(200), [b"D" * 50]),
        block(1, 0x00, b"", [b"ok-frame"])])
    with pytest.raises(Exception, match="lacing overruns block"):
        mkv_blocks(spark.createDataFrame(
            [("m", bytearray(bad_xiph))],
            "media_id string, payload binary")).collect()

    # (b') EBML lacing size overruns the block end.
    bad_ebml = file_of([
        block(1, 0x06, bytes([1]) + b"\xff", [b"E" * 50]),
        block(1, 0x00, b"", [b"ok-frame"])])
    with pytest.raises(Exception, match="lacing overruns block"):
        mkv_blocks(spark.createDataFrame(
            [("m", bytearray(bad_ebml))],
            "media_id string, payload binary")).collect()


def test_triangle_count_id_type_gate(spark):
    """Round-10 ADVICE regression: the packed single-long closure key
    must be gated on COLUMN TYPE, not just id magnitude — IntegerType
    ids fed to shiftleft without a cast hit the JVM's 5-bit
    shift-amount mask (shift-by-32 on int is a no-op → silent key
    collisions), and StringType ids crashed the driver-side bound
    compare. The collision-trap graph has a wedge (30,28) and an
    unrelated edge (18,40): under the b+c degeneration both hash to
    58 and a phantom triangle appears."""
    from memory_engine_spark.operators.graph import triangle_count

    trap = spark.createDataFrame(
        [(2, 30), (2, 28), (18, 40), (18, 2)], "from_id int, to_id int")
    assert triangle_count(trap).collect()[0]["triangles"] == 0

    tri_int = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "from_id int, to_id int")
    assert triangle_count(tri_int).collect()[0]["triangles"] == 1

    # StringType ids (the repo's node-id convention) take the
    # two-column fallback — previously a driver TypeError.
    tri_str = spark.createDataFrame(
        [("c_1", "c_2"), ("c_2", "c_3"), ("c_1", "c_3"), ("c_3", "p_4")],
        "from_id string, to_id string")
    assert triangle_count(tri_str).collect()[0]["triangles"] == 1

    # negative ids also fall back (packing is not injective there).
    tri_neg = spark.createDataFrame(
        [(-1, 2), (2, 3), (-1, 3)], "from_id long, to_id long")
    assert triangle_count(tri_neg).collect()[0]["triangles"] == 1


def test_xxh32_reference_vectors_and_lz4_roundtrip():
    """xxHash32 against the reference test vectors (the LZ4 frame's
    checksum algorithm), LZ4 block round trips incl. the RLE
    overlapping-copy idiom and >=15+255 extension lengths, and frame
    walk with header-checksum + content-checksum verification."""
    from memory_engine_spark.sources.formats import (
        _lz4_block_compress, _lz4_block_decompress, _xxh32,
        lz4_frame_walk, synth_lz4_frame)

    assert _xxh32(b"") == 0x02CC5D05
    assert _xxh32(b"a") == 0x550D7456
    assert _xxh32(b"abc") == 0x32D153FF

    cases = [b"", b"x", b"a" * 1000,                 # RLE overlap copy
             b"the quick brown fox " * 60 + b"end",  # long match lens
             bytes(range(256)) * 4,                  # incompressible-ish
             b"B" * 14]                              # under mflimit
    for data in cases:
        assert _lz4_block_decompress(_lz4_block_compress(data)) == data

    b0, b1 = b"rep " * 80, b"stored-tail"
    frame = synth_lz4_frame([(b0, True), (b1, False)])
    blocks, ok = lz4_frame_walk(frame)
    assert ok and [(s, raw) for s, _, raw in blocks] == \
        [(False, b0), (True, b1)]
    # flip one stored byte post-seal: content checksum must catch it
    bad = bytearray(frame)
    bad[frame.find(b"stored-tail")] ^= 0x01
    blocks2, ok2 = lz4_frame_walk(bytes(bad))
    assert not ok2 and blocks2[1][2] != b1
    # flip a descriptor byte: header checksum must raise (structure)
    import pytest
    bad2 = bytearray(frame)
    bad2[5] ^= 0x01
    with pytest.raises(ValueError, match="header checksum|unsupported"):
        lz4_frame_walk(bytes(bad2))
    # round-8 ADVICE: truncation exactly before a block-size word must
    # raise loudly, not read b'' as a clean EndMark (the EndMark +
    # content checksum are the last 8 bytes of the sealed frame)
    with pytest.raises(ValueError, match="truncated LZ4 frame"):
        lz4_frame_walk(frame[:-8])
    # ...and a frame cut inside the trailing content checksum too
    with pytest.raises(ValueError, match="truncated LZ4 frame"):
        lz4_frame_walk(frame[:-2])
    # round-8 ADVICE: DictID (FLG bit 0) must be rejected explicitly,
    # not misparse desc_len into a misleading header-checksum error
    dic = bytearray(frame)
    dic[4] |= 0x01
    with pytest.raises(NotImplementedError, match="DictID"):
        lz4_frame_walk(bytes(dic))
    # r15: the BD block maximum is ENFORCED — a block size word
    # exceeding it is loud (the decode output cap relies on it), and
    # a reserved BD code is loud. Re-seal the header checksum so the
    # new check (not the checksum) is what fires.
    def reseal(buf):
        buf = bytearray(buf)
        desc_len = 2 + 8                  # synth writes csize
        buf[4 + desc_len] = (_xxh32(bytes(buf[4:4 + desc_len]))
                             >> 8) & 0xFF
        return bytes(buf)

    small_bd = bytearray(frame)
    small_bd[5] = 0x40                    # 64 KB max block
    ok_small = reseal(small_bd)           # blocks are tiny: still ok
    blocks3, ok3 = lz4_frame_walk(ok_small)
    assert ok3 and blocks3[0][2] == b0
    oversize = bytearray(ok_small)
    # stored-block size word: claim bigger than the 64 KB max
    woff = ok_small.find(b"stored-tail") - 4
    oversize[woff:woff + 4] = (0x80000000 | (1 << 17)) \
        .to_bytes(4, "little")
    with pytest.raises(ValueError, match="block maximum"):
        lz4_frame_walk(bytes(oversize))
    resv = bytearray(frame)
    resv[5] = 0x30                        # reserved block-max code
    with pytest.raises(ValueError, match="reserved block-max"):
        lz4_frame_walk(reseal(resv))


def test_ogg_corrupt_empty_page_is_never_silently_dropped(spark):
    """r12 (the MKV dropped-verdict class): an EMPTY Ogg page
    (nseg=0, legal for e.g. granule repositioning) that sits BETWEEN
    packets has no packet row to carry its CRC verdict — the next
    page's packet-state reset used to discard the failure silently.
    A clean empty page must leave the packet stream unchanged; a
    corrupt one must raise."""
    import pytest as _pytest

    from memory_engine_spark.operators.multimodal import (ogg_crc,
                                                          ogg_packets,
                                                          synth_ogg)

    pkts = [b"cmt:first", b"payload-two"]
    clean = synth_ogg(pkts, serial=5, granules=[10, 20])
    nseg = clean[26]
    first_end = 27 + nseg + sum(clean[27:27 + nseg])

    empty = bytearray(b"OggS" + b"\x00" + bytes([0])
                      + (0).to_bytes(8, "little")      # granule
                      + (5).to_bytes(4, "little")      # serial
                      + (99).to_bytes(4, "little")     # seq
                      + b"\x00\x00\x00\x00" + bytes([0]))
    empty[22:26] = ogg_crc(bytes(empty)).to_bytes(4, "little")

    def run(blob):
        df = spark.createDataFrame([("m", bytearray(blob))],
                                   "media_id string, payload binary")
        return {r["packet_idx"]: r for r in ogg_packets(df).collect()}

    spliced = clean[:first_end] + bytes(empty) + clean[first_end:]
    got = run(spliced)
    assert len(got) == 2 and got[0]["crc_ok"] and got[1]["crc_ok"]
    assert got[0]["n_bytes"] == len(pkts[0])

    bad = bytearray(spliced)
    bad[first_end + 6] ^= 0x01            # granule byte, CRC-covered
    with _pytest.raises(Exception, match="corrupt empty Ogg page"):
        run(bytes(bad))


def test_mkv_unknown_cluster_child_raises_not_skips(spark):
    """r12 (deterministic pin for the hypothesis find, which lives
    only in the local example DB): flipping the only SimpleBlock's id
    (0xA3 -> 0xA2) used to make the cluster walk emit ZERO rows with
    every CRC reported green — the failed-CRC verdict had no carrier
    row and was silently discarded. Unknown Cluster children now
    raise (strict CRC-32/Timecode/SimpleBlock dialect)."""
    import pytest as _pytest

    from memory_engine_spark.operators.multimodal import (mkv_blocks,
                                                          synth_mkv)

    frames = [bytes((i * 17 + j) % 256 for j in range(20))
              for i in range(1)]
    blob = synth_mkv("matroska", 1_000_000, (64, 48),
                     [(0, [(1, 10, True, "none", frames)])])

    def run(b):
        df = spark.createDataFrame([("m", bytearray(b))],
                                   "media_id string, payload binary")
        return mkv_blocks(df).collect()

    assert len(run(blob)) == 1            # baseline: one block row

    # locate the SimpleBlock's id byte via the module's own walk:
    # cluster children are [CRC-32, Timecode, SimpleBlock], and each
    # element starts where the previous one's payload ends
    from memory_engine_spark.operators import multimodal as _mm
    seg = _mm._ebml_find(blob, 0, len(blob), [0x18538067])
    cluster = next((s, e) for eid, s, e in
                   _mm._ebml_children(blob, *seg) if eid == 0x1F43B675)
    kids = list(_mm._ebml_children(blob, *cluster))
    assert [k[0] for k in kids] == [0xBF, 0xE7, 0xA3]
    pos = kids[1][2]                      # Timecode payload end
    assert blob[pos] == 0xA3
    mut = bytearray(blob)
    mut[pos] = 0xA2
    with _pytest.raises(Exception, match="unsupported Cluster child"):
        run(bytes(mut))


def test_fuse_synth_stage_matches_two_stage(spark):
    """r16 fusion: composing a payload synthesizer with a decode
    wrapper via fuse_synth_stage must produce EXACTLY the rows of the
    original two-mapInPandas-stage pipeline (the fusion removes the
    JVM round trip of the payload bytes, nothing else). Covers a
    parameterless wrapper (image_pixel_stats) and a parameterized one
    (audio_energy_features with n_windows)."""
    import numpy as np
    import pandas as pd

    docs = spark.createDataFrame([(d,) for d in range(6)],
                                 "doc_id long")

    def synth_img(batches):
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                px = (np.arange(4 * 5 * 3, dtype=np.int64)
                      .reshape(4, 5, 3) * (d + 1) % 256).astype(np.uint8)
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_png(
                    px, row_filters=[(d + r) % 5 for r in range(4)]))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    two_stage = multimodal.image_pixel_stats(
        docs.mapInPandas(synth_img, "media_id string, payload binary"))
    fused = multimodal.fuse_synth_stage(
        docs, synth_img, multimodal.image_pixel_stats)
    a = sorted(map(tuple, two_stage.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b and len(a) == 6

    def synth_wav(batches):
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                s = [((d * 13 + i * 7) % 2048 - 1024)
                     for i in range(160)]
                ids.append(f"m_{d}")
                payloads.append(multimodal.synth_wav_pcm16(
                    s, sample_rate=8000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    two_stage = multimodal.audio_energy_features(
        docs.mapInPandas(synth_wav, "media_id string, payload binary"),
        n_windows=4)
    fused = multimodal.fuse_synth_stage(
        docs, synth_wav, multimodal.audio_energy_features, n_windows=4)
    a = sorted(map(tuple, two_stage.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b and len(a) == 6
