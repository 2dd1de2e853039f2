"""Hierarchy closure, existence-join pairs, deterministic sampling, loaders,
RDF sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.hierarchy import (
    deterministic_sample,
    label_pairs_by_edge,
    stratified_deterministic_split,
    transitive_closure,
)
from pybiodatafuse_spark.sinks.rdf import edge_triples, node_triples
from pybiodatafuse_spark.sources.loaders import (
    filter_dea,
    identifiers_from_text,
    read_pages,
    write_pages,
)


def test_transitive_closure_chain_and_tree(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "d"), ("y", "x")]
    h = spark.createDataFrame(rows, "child string, parent string")
    got = {(r["node"], r["ancestor"]) for r in transitive_closure(h, max_depth=8).collect()}
    want = {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("x", "d"), ("y", "x"), ("y", "d"),
    }
    assert got == want


def test_label_pairs_by_edge(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0, 1), (3, 4, 1.0, 1)], "src long, dst long, weight double, etype int"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 4), (3, 4)], "a long, b long")
    got = {(r["a"], r["b"]): r["label"] for r in label_pairs_by_edge(pairs, edges).collect()}
    assert got == {(1, 2): 1, (1, 4): 0, (3, 4): 1}


def test_deterministic_sample_stable_and_partitioned(spark):
    df = spark.range(1000).select(F.col("id"))
    a = sorted(r["id"] for r in deterministic_sample(df, "id", mod=10).collect())
    b = sorted(r["id"] for r in deterministic_sample(df.repartition(7), "id", mod=10).collect())
    assert a == b and 50 < len(a) < 200
    train, test = stratified_deterministic_split(
        df.withColumn("s", F.col("id") % 3), "id", "s", test_mod=5
    )
    assert train.count() + test.count() == 1000
    assert 100 < test.count() < 320


def test_loaders(spark, tmp_path):
    ids = identifiers_from_text(spark, "ALG14, CHRNA1\nCHRND")
    assert [r["identifier"] for r in ids.collect()] == ["ALG14", "CHRNA1", "CHRND"]
    df = spark.createDataFrame(
        [("g1", 2.5), ("g2", -3.5), ("g3", 0.5)], "identifier string, logfc double"
    )
    kept = filter_dea(df, "logfc", abs_min=2.0)
    assert {r["identifier"] for r in kept.collect()} == {"g1", "g2"}


def test_pages_roundtrip_schema_enforced(spark, pages_df, tmp_path):
    p = str(tmp_path / "pages")
    write_pages(pages_df, p)
    back = read_pages(spark, p)
    assert back.count() == pages_df.count()
    import pytest
    from pybiodatafuse_spark.schema import SchemaError

    with pytest.raises(SchemaError):
        write_pages(pages_df.drop("lang"), str(tmp_path / "bad"))


def test_rdf_triples(spark):
    verts = spark.createDataFrame([(1, "u", "page")], "id long, url string, type string")
    edges = spark.createDataFrame([(1, 2, 1.0, 1)], "src long, dst long, weight double, etype int")
    nt = node_triples(verts).collect()[0]["triple"]
    et = edge_triples(edges).collect()[0]["triple"]
    assert nt == (
        "<urn:bdf:node:1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<urn:bdf:type:page> ."
    )
    assert et == "<urn:bdf:node:1> <urn:bdf:pred:links_to> <urn:bdf:node:2> ."


def test_rdf_full_parity(spark):
    """K6 parity: node attribute literals (escaped), provenance/metadata
    triples, SHACL prefixes (reference rdf.py generate_rdf + metadata.py +
    shacl_prefixes)."""
    from pybiodatafuse_spark.sinks.rdf import (
        generate_rdf,
        metadata_triples,
        node_attribute_triples,
        shacl_prefixes,
    )

    verts = spark.createDataFrame(
        [(1, 'say "hi" \\ there', "page"), (2, None, "page")],
        "id long, label string, type string",
    )
    at = sorted(
        r["triple"] for r in node_attribute_triples(verts, {"label": "string"}).collect()
    )
    # null label skipped; quotes and backslashes escaped
    assert at == [
        "<urn:bdf:node:1> <http://www.w3.org/2000/01/rdf-schema#label> "
        '"say \\"hi\\" \\\\ there"^^<http://www.w3.org/2001/XMLSchema#string> .'
    ]
    mt = [
        r["triple"]
        for r in metadata_triples(
            spark, title="t", author="a", datasources=["src1"],
            created="2026-01-01T00:00:00Z",
        ).collect()
    ]
    assert '<urn:bdf:graph> <http://purl.org/dc/terms/created> "2026-01-01T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .' in mt
    assert "<urn:bdf:source:src1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://rdfs.org/ns/void#Dataset> ." in mt
    edges = spark.createDataFrame([(1, 2, 1.0, 1)], "src long, dst long, weight double, etype int")
    full = generate_rdf(
        spark, verts, edges, attrs={"label": "string"},
        created="2026-01-01T00:00:00Z",
    )
    assert full.count() == 2 + 1 + 1 + 1  # nodes + edge + attr + created
    pfx = shacl_prefixes()
    assert "@prefix dcterms: <http://purl.org/dc/terms/> ." in pfx
    assert "@prefix void: <http://rdfs.org/ns/void#> ." in pfx


def test_shacl_shape_mining(spark):
    """K6 tail: frequency-mined SHACL node shapes (reference rdf.py
    get_shapes via shexer, :1164-1189). Exact triple check on a 2-type
    graph: minCount 1 only where coverage is total, edge property emitted
    only for types with out-edges, sub-threshold attrs dropped."""
    from pybiodatafuse_spark.sinks.rdf import shacl_shapes

    # type "a": 2 nodes, both labelled, both with out-edges
    # type "b": 2 nodes, one labelled, NO out-edges
    verts = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "a"), (3, "z", "b"), (4, None, "b")],
        "id long, label string, type string",
    )
    edges = spark.createDataFrame(
        [(1, 3, 1.0, 1), (2, 4, 1.0, 1)],
        "src long, dst long, weight double, etype int",
    )
    got = sorted(
        r["triple"]
        for r in shacl_shapes(verts, edges, attrs={"label": "string"}).collect()
    )
    sh = "http://www.w3.org/ns/shacl#"
    assert f"<urn:bdf:shape:a> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{sh}NodeShape> ." in got
    assert f"<urn:bdf:shape:a> <{sh}targetClass> <urn:bdf:type:a> ." in got
    # label: full coverage on "a" -> minCount 1; partial on "b" -> no minCount
    assert f"<urn:bdf:shape:a:prop:label> <{sh}minCount> 1 ." in got
    assert f"<urn:bdf:shape:b:prop:label> <{sh}minCount> 1 ." not in got
    assert (
        "<urn:bdf:shape:b:prop:label> <http://www.w3.org/2000/01/rdf-schema#label> ."
        not in got
    )  # path triple uses sh:path
    assert f"<urn:bdf:shape:b:prop:label> <{sh}path> <http://www.w3.org/2000/01/rdf-schema#label> ." in got
    assert f"<urn:bdf:shape:b:prop:label> <{sh}datatype> <http://www.w3.org/2001/XMLSchema#string> ." in got
    # edge predicate: only "a" has out-edges, and ALL of "a" does -> minCount
    assert f"<urn:bdf:shape:a:prop:links_to> <{sh}nodeKind> <{sh}IRI> ." in got
    assert f"<urn:bdf:shape:a:prop:links_to> <{sh}minCount> 1 ." in got
    assert not any("shape:b:prop:links_to" in t for t in got)
    # threshold: a never-present attr emits nothing
    got2 = shacl_shapes(
        verts.withColumn("extra", F.lit(None).cast("string")),
        edges,
        attrs={"extra": "string"},
    ).collect()
    assert not any("prop:extra" in r["triple"] for r in got2)


def test_shex_shape_export(spark, tmp_path):
    """K6 tail, part 2: ShExC serialization of the same mined shape data
    (reference rdf.py:1135-1163 shex() via shexer). Exact text on the same
    2-type graph as the SHACL test: cardinality `+` exactly where SHACL
    emits sh:minCount 1, `*` otherwise, constraints in attrs-then-edge
    order; write_shex emits PREFIX block + shapes sorted by URI."""
    from pybiodatafuse_spark.sinks.rdf import shex_shapes, write_shex

    verts = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "a"), (3, "z", "b"), (4, None, "b")],
        "id long, label string, type string",
    )
    edges = spark.createDataFrame(
        [(1, 3, 1.0, 1), (2, 4, 1.0, 1)],
        "src long, dst long, weight double, etype int",
    )
    rows = {
        r["shape"]: r["shex"]
        for r in shex_shapes(verts, edges, attrs={"label": "string"}).collect()
    }
    label = "http://www.w3.org/2000/01/rdf-schema#label"
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    # type a: label on every instance (+), out-edges on every instance (+)
    assert rows["urn:bdf:shape:a"] == (
        "<urn:bdf:shape:a> {\n"
        f"  <{label}> <{xsd_s}> + ;\n"
        "  <urn:bdf:pred:links_to> IRI +\n"
        "}"
    )
    # type b: label on half the instances (*), no out-edges (constraint dropped)
    assert rows["urn:bdf:shape:b"] == (
        "<urn:bdf:shape:b> {\n"
        f"  <{label}> <{xsd_s}> *\n"
        "}"
    )
    # never-present attr emits nothing (threshold), matching the SHACL rule
    rows2 = shex_shapes(
        verts.withColumn("extra", F.lit(None).cast("string")),
        edges,
        attrs={"extra": "string"},
    ).collect()
    assert not any("pred:extra" in r["shex"] for r in rows2)

    # schema file: ShExC PREFIX block (no Turtle dot) + shapes sorted by URI
    path = str(tmp_path / "schema.shex")
    n = write_shex(verts, edges, path, attrs={"label": "string"})
    assert n == 2
    text = open(path).read()
    assert "PREFIX sh: <http://www.w3.org/ns/shacl#>\n" in text
    assert "@prefix" not in text
    assert text.index("<urn:bdf:shape:a> {") < text.index("<urn:bdf:shape:b> {")
    assert rows["urn:bdf:shape:a"] in text and rows["urn:bdf:shape:b"] in text

    # max_shapes guard: a unique-id `type` column must refuse to collect
    import pytest as _pytest

    bad = verts.withColumn("type", F.col("id").cast("string"))
    with _pytest.raises(ValueError, match="more than 2 shapes"):
        write_shex(bad, edges, str(tmp_path / "x.shex"),
                   attrs={"label": "string"}, max_shapes=2)


def test_shex_schema_file_well_formed(spark, tmp_path):
    """The written ShExC schema is well-formed on a graph with several
    types, partial attributes and a type with no out-edges: braces balance
    (never closing below depth 0), each shape is declared once, and every
    triple constraint ends in a cardinality of `+` or `*`."""
    import re

    from pybiodatafuse_spark.sinks.rdf import write_shex

    verts = spark.createDataFrame(
        [
            (i, f"n{i}" if i % 3 else None, f"s{i}" if i % 2 else None, f"t{i % 4}")
            for i in range(40)
        ],
        "id long, label string, source string, type string",
    )
    edges = spark.createDataFrame(
        [(i, (i * 5 + 1) % 40, 1.0, 1) for i in range(40) if i % 4 != 3],
        "src long, dst long, weight double, etype int",
    )
    path = str(tmp_path / "schema.shex")
    n = write_shex(verts, edges, path, attrs={"label": "string", "source": "string"})
    assert n == 4
    depth, shapes, constraints = 0, [], 0
    for line in open(path).read().splitlines():
        m = re.fullmatch(r"<([^<>\s]+)> \{", line)
        if m:
            assert depth == 0, line
            shapes.append(m.group(1))
        elif depth:
            if line != "}":
                assert re.fullmatch(r"  <[^<>\s]+> (<[^<>\s]+>|IRI) [+*]( ;)?", line), line
                constraints += 1
        else:
            assert line == "" or line.startswith("PREFIX "), line
        depth += line.count("{") - line.count("}")
        assert depth >= 0, line
    assert depth == 0
    assert len(shapes) == len(set(shapes)) == n
    assert constraints >= 2 * n  # label and source reach every type


def test_dea_from_excel_stdlib_fallback(spark, tmp_path):
    """S4: the .xlsx loader works WITHOUT openpyxl via the stdlib zip+XML
    fallback (reference data_loader.py:52-87 semantics: first column renamed
    to identifier); legacy .xls still raises an actionable ImportError."""
    import zipfile

    import pytest

    from pybiodatafuse_spark.sources.loaders import dea_from_excel

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    shared = (
        f'<sst xmlns="{ns}" count="3" uniqueCount="3">'
        "<si><t>gene</t></si><si><t>log2fc</t></si><si><t>g1</t></si></sst>"
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>-1.5</v></c></row>'
        '<row r="3"><c r="A3" t="str"><v>g2</v></c><c r="B3"><v>2</v></c></row>'
        "</sheetData></worksheet>"
    )
    p = tmp_path / "dea.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    df = dea_from_excel(spark, str(p))
    rows = {r["identifier"]: r["log2fc"] for r in df.collect()}
    assert rows == {"g1": -1.5, "g2": 2}
    with pytest.raises(ImportError, match="xls"):
        legacy = tmp_path / "dea.xls"
        legacy.write_bytes(b"legacy")
        dea_from_excel(spark, str(legacy), engine="stdlib")


def test_dea_from_excel_ragged_rows_and_sheet_order(spark, tmp_path):
    """S4 robustness: (a) a data row with a populated cell RIGHT of the header
    (or a short row) is padded/truncated to the header width instead of
    crashing pd.DataFrame; (b) the first worksheet is picked by NUMERIC
    suffix (sheet2 before sheet10), not lexicographically."""
    import zipfile

    from pybiodatafuse_spark.sources.loaders import dea_from_excel

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    good = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="str"><v>gene</v></c><c r="B1" t="str"><v>fc</v></c></row>'
        '<row r="2"><c r="A2" t="str"><v>g1</v></c><c r="B2"><v>1.5</v></c>'
        '<c r="C2" t="str"><v>stray</v></c></row>'  # cell right of header
        '<row r="3"><c r="A3" t="str"><v>g2</v></c></row>'  # short row
        "</sheetData></worksheet>"
    )
    decoy = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="str"><v>wrong</v></c></row>'
        "</sheetData></worksheet>"
    )
    p = tmp_path / "ragged.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/worksheets/sheet10.xml", decoy)  # lexicographic decoy
        z.writestr("xl/worksheets/sheet2.xml", good)
    df = dea_from_excel(spark, str(p), engine="stdlib")
    assert df.columns == ["identifier", "fc"]
    rows = {r["identifier"]: r["fc"] for r in df.collect()}
    assert rows["g1"] == 1.5 and rows["g2"] is None


def test_weighted_sample_properties(spark):
    from pybiodatafuse_spark.operators.hierarchy import weighted_sample

    df = spark.createDataFrame(
        [(i, float(1 + (i % 10))) for i in range(4000)], "k long, w double"
    )
    kept = weighted_sample(df, "k", "w", fraction=0.25).collect()
    n = len(kept)
    assert 700 < n < 1300  # E[n] = 1000, deterministic given the hash
    # inclusion rate must grow with weight
    from collections import Counter

    by_w = Counter(int(r["w"]) for r in kept)
    assert by_w[10] > by_w[1] * 2
    # reproducible: same call → identical rows
    again = weighted_sample(df, "k", "w", fraction=0.25).collect()
    assert sorted(r["k"] for r in again) == sorted(r["k"] for r in kept)
