"""CLI entrypoint (spark-submit ship path)."""

import json

from thesaurus_based_ner_spark.cli import build_parser, main


def test_parser_wiring():
    p = build_parser()
    a = p.parse_args(["pipeline", "--output", "/tmp/x"])
    assert a.cmd == "pipeline"
    a = p.parse_args(["query", "--name", "mention_spans", "--sf-dir", "/d"])
    assert a.cmd == "query"


def test_cli_pipeline_and_query(spark, tmp_path, capsys):
    root = str(tmp_path / "catalog")
    rc = main(["pipeline", "--output", root, "--synth-docs", "300",
               "--fingerprint", "cli-test"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["triples"] > 0
    assert "match" in out["stages"] and "materialize" in out["stages"]

    rc = main(["query", "--name", "lang_id", "--sf-dir", "/root/testdata/sf0.001",
               "--output", str(tmp_path / "q_out")])
    assert rc == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["rows"] > 0

    rc = main(["query", "--name", "no_such_query", "--sf-dir", "/d"])
    assert rc == 2


def test_cli_lists_every_registered_query(capsys):
    assert main(["list"]) == 0
    names = [ln.split("\t")[0] for ln in capsys.readouterr().out.splitlines()]
    assert len(names) == 101
    assert {"span_markup_diff", "genia_descendant_cats"} <= set(names)


def test_cli_runs_a_late_registered_query(spark, sf_dir, tmp_path, capsys):
    rc = main(["query", "--name", "span_markup_diff", "--sf-dir", sf_dir,
               "--output", str(tmp_path / "markup")])
    assert rc == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["query"] == "span_markup_diff"


def test_cli_pipeline_with_tsv_thesaurus(spark, tmp_path, capsys):
    """--thesaurus terms.tsv loads DISTRIBUTED (parallel CSV scan → the
    DataFrame dim path), never a driver dict."""
    from thesaurus_based_ner_spark.sources.webtext import THESAURUS

    tsv = tmp_path / "terms.tsv"
    tsv.write_text(
        "# term\tlabel\n"
        + "\n".join(f"{t}\t{lab}" for t, lab in THESAURUS)
        + "\n"
    )
    root = str(tmp_path / "catalog_tsv")
    rc = main(["pipeline", "--output", root, "--synth-docs", "120",
               "--thesaurus", str(tsv), "--fingerprint", "cli-tsv"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["triples"] > 0


def test_tsv_loader_preserves_quotes(spark, tmp_path):
    """Terms/labels containing double quotes must round-trip verbatim —
    Spark CSV's default quote char would strip or mangle them (ADVICE r3);
    the loader splits purely on tabs like a line parser."""
    from thesaurus_based_ner_spark.cli import _load_thesaurus

    tsv = tmp_path / "q.tsv"
    tsv.write_text(
        '# comment line\n'
        '"shock" protein\tProtein\n'
        'plain term\tDisease "X"\n'
        'a"b\tLabel\n'
    )
    rows = {
        (r["term"], r["label"])
        for r in _load_thesaurus(spark, str(tsv)).collect()
    }
    assert rows == {
        ('"shock" protein', "Protein"),
        ("plain term", 'Disease "X"'),
        ('a"b', "Label"),
    }
