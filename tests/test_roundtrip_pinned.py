"""The data-pinned A/B arm of every PDF roundtrip query runs the live query's
extraction: over the corpus its build half materializes, each
``pinned_queries()`` entry returns exactly the rows of its live query."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _map_nodes(df) -> int:
    """``MapInPandas`` nodes in ``df``'s physical plan: each one holds its
    own Python worker per task and re-ships its input over Arrow."""
    return df._jdf.queryExecution().sparkPlan().toString().count("MapInPandas")


def test_every_pinned_arm_equals_its_live_query(spark, sf_dir, tmp_path):
    import __spark_entry__ as entry

    from pdf_extraction_ai_agent_spark.entry_roundtrips import ROUNDTRIPS, pinned_corpus

    small = str(tmp_path / "sf")
    (spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("doc_id").limit(12)
     .write.parquet(f"{small}/documents.parquet"))
    docs = spark.read.parquet(f"{small}/documents.parquet")
    live, pinned = entry.queries(), entry.pinned_queries()
    assert set(pinned) == set(ROUNDTRIPS)
    for name in ROUNDTRIPS:
        path = str(tmp_path / "pinned" / name)
        pinned_corpus(docs, name).write.parquet(path)
        want = live[name](spark, small)
        got = pinned[name](spark, path)
        assert got.columns == want.columns, name
        rows = _rows(want)
        assert len(rows) == 12, name
        assert _rows(got) == rows, name
        if ROUNDTRIPS[name].rung == "render":
            # build, render, decode and match run in one kernel
            assert (_map_nodes(want), _map_nodes(got)) == (1, 1), name


def test_pinned_queries_list_every_roundtrip_from_the_entry_module_alone():
    """A fresh process that imports only ``__spark_entry__`` gets a pinned
    arm for every roundtrip query, q97 included: no query pack has to be
    imported first for its rows to register. Listing the queries, their
    oracles and the pinned arms stays light: the registry serves both
    lists in one order, and nothing the workers run (pandas, pyarrow, the
    extractor, the PDF tokenizer, the PDF writer) is imported."""
    code = (
        "import json, sys\n"
        "import __spark_entry__ as e\n"
        "packs = sorted(m for m in sys.modules\n"
        "               if m.startswith('pdf_extraction_ai_agent_spark.entry_'))\n"
        "q, o, p = e.queries(), e.oracle_sql(), e.pinned_queries()\n"
        "heavy = ['pandas', 'pyarrow'] + ['pdf_extraction_ai_agent_spark.' + m for m in\n"
        "    ('operators.extract', 'operators.pdftext', 'fixtures.minipdf')]\n"
        "print(json.dumps([packs, list(q), list(o), sorted(p),\n"
        "                  [m for m in heavy if m in sys.modules]]))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=120, check=True)
    packs, names, oracle_names, pinned, heavy = json.loads(out.stdout.strip().splitlines()[-1])
    assert packs == []
    assert heavy == []
    assert len(names) == 103
    assert oracle_names == names
    want = {n for n in names if n.endswith("_roundtrip")} | {"q97_annotations_ignored"}
    assert len(want) == 28
    assert set(pinned) == want
