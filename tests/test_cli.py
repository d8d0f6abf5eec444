"""CLI surface test: the reference README workflow (test → classified +
detected files → eval vs gold) through `python -m igtdetect_spark.cli`,
with the extracted pretrained model — detected bytes match the oracle."""

import subprocess
import sys
from pathlib import Path

import pytest

from igtdetect_spark.config import (
    REF_MODEL_PATH,
    REF_SAMPLE_TEST,
    REF_SAMPLE_TRAIN,
)
from igtdetect_spark.flagship import get_lexicons
from igtdetect_spark.oracle.freki import read_freki
from igtdetect_spark.oracle.pipeline import (
    detect_spans,
    detected_text,
    extract_doc_features,
    score_doc,
)
from igtdetect_spark.refmodel import load_reference_model

from conftest import REF_LEXICON_FILES, needs_reference

REPO_ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.slow
@needs_reference(REF_SAMPLE_TRAIN, *REF_LEXICON_FILES)
def test_cli_train_auto_routes_to_distributed(tmp_path):
    """Above --collect-threshold the CLI trains via Spark ML instead of
    collecting features to the driver; the resulting model loads and
    selects the same chi² vocabulary as the collected path."""
    dist_path = tmp_path / "dist.npz"
    coll_path = tmp_path / "coll.npz"
    # max-features above the total feature count: the chi² cutoff would
    # otherwise tie-break boundary features differently between the numpy
    # and Spark rankings (equal scores, different sort carriers)
    common = [
        sys.executable, "-m", "igtdetect_spark.cli",
        "--master", "local[4]", "--shuffle-partitions", "8",
        "train", "--files", REF_SAMPLE_TRAIN, "--max-features", "1000000",
    ]
    r1 = subprocess.run(
        common + ["--classifier-path", str(dist_path),
                  "--collect-threshold", "1"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "distributed Spark ML trainer" in r1.stderr
    r2 = subprocess.run(
        common + ["--classifier-path", str(coll_path)],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "distributed Spark ML trainer" not in r2.stderr

    from igtdetect_spark.refmodel import load_model

    dist, coll = load_model(str(dist_path)), load_model(str(coll_path))
    assert dist.classes == coll.classes
    # chi² feature selection is deterministic → identical vocabularies
    assert sorted(dist.feature_names) == sorted(coll.feature_names)


@pytest.mark.slow
@needs_reference(REF_SAMPLE_TEST, REF_MODEL_PATH, *REF_LEXICON_FILES)
def test_cli_test_eval_workflow(tmp_path):
    classified = tmp_path / "classified"
    detected = tmp_path / "detected"
    gold = tmp_path / "gold"
    gold.mkdir()
    # gold pairing is filename-based: <doc>_classified.freki ↔ <doc>.freki
    (gold / "2629.freki").write_text(
        open(REF_SAMPLE_TEST, encoding="utf-8").read(), encoding="utf-8"
    )

    r = subprocess.run(
        [
            sys.executable, "-m", "igtdetect_spark.cli",
            "--master", "local[4]", "--shuffle-partitions", "8",
            "--feat-dir", str(tmp_path / "feats"),
            "testeval",
            "--files", REF_SAMPLE_TEST,
            "--classifier-path", REF_MODEL_PATH,
            "--classified-dir", str(classified),
            "--detected-dir", str(detected),
            "--gold-dir", str(gold),
            "--out", str(tmp_path / "report.txt"),
        ],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    # feature cache file: reference naming + gzip + one svmlight line per
    # input line
    import gzip

    fpath = tmp_path / "feats" / "2629_feats.txt.gz"
    assert fpath.exists()
    with gzip.open(fpath, "rt", encoding="utf-8") as f:
        feat_lines = f.read().splitlines()
    assert len(feat_lines) == 268
    assert all("\t" in l and ":1" in l for l in feat_lines if l)

    # classified file exists and re-parses with predicted tags
    cpath = classified / "2629_classified.freki"
    assert cpath.exists()
    from igtdetect_spark.oracle.freki import parse_freki

    cdoc = parse_freki(cpath.read_text(encoding="utf-8"))
    assert len(cdoc) == 268

    # detected bytes match the oracle exactly
    doc = read_freki(REF_SAMPLE_TEST)
    inst = extract_doc_features(doc, get_lexicons())
    labels, _ = score_doc(inst, load_reference_model(REF_MODEL_PATH))
    want = detected_text(detect_spans(doc, labels))
    dpath = detected / "2629_detected.txt"
    assert dpath.exists()
    assert dpath.read_text(encoding="utf-8") == want

    # eval report produced with the reference's section structure
    report = (tmp_path / "report.txt").read_text()
    assert "----- Labels -----" in report and "----- Spans ------" in report


def _write_bio_workflow_inputs(root):
    """Hermetic CLI inputs under ``root``: 12 synthetic gold-tagged freki
    docs in ``docs/`` (file stem = doc id stem, so they double as the gold
    dir), lexicon files from the benchmark's seeded lexicons, and ``bi.ini``
    that turns on B-/I- labels and names those lexicon files."""
    from perfbench.inputs import build_lexicons

    from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus

    docs = root / "docs"
    docs.mkdir()
    for d in make_corpus(12, html_every=0):
        (docs / f"{d.url.rsplit('/', 1)[1]}.freki").write_text(
            doc_from_text(d.url, d.text, d.gold_tags).render(),
            encoding="utf-8",
        )
    lex = build_lexicons(0)
    files = {
        # langs.txt shape: the name list is the fourth column on
        "lng_names": "\n".join(f"x\tx\tx\t{n}" for n in sorted(lex.langnames)),
        "gram_list": "\n".join(lex.gram_list),
        "gram_list_cased": "\n".join(lex.gram_list_cased),
    }
    for key, text in files.items():
        (root / f"{key}.txt").write_text(text + "\n", encoding="utf-8")
    (root / "bi.ini").write_text(
        "[labels]\nuse_bi_labels = 1\n\n[files]\n"
        + "".join(f"{key} = {key}.txt\n" for key in files)
    )
    return docs, root / "bi.ini"


@pytest.mark.slow
def test_cli_train_test_eval_follow_config(tmp_path):
    """``-c`` reaches every workflow step: with ``use_bi_labels = 1``
    traintesteval trains a B-/I- model, scores with it and evaluates
    with B-/I- labels, and the eval report carries the reference's
    Auto-Spans section; nfold runs on the same config."""
    docs, ini = _write_bio_workflow_inputs(tmp_path)
    common = [
        sys.executable, "-m", "igtdetect_spark.cli",
        "--master", "local[2]", "--shuffle-partitions", "4", "-c", str(ini),
    ]
    model_path = tmp_path / "model.npz"
    r = subprocess.run(
        common + [
            "traintesteval",
            "--train-files", str(docs / "*.freki"),
            "--files", str(docs / "*.freki"),
            "--classifier-path", str(model_path),
            "--classified-dir", str(tmp_path / "classified"),
            "--gold-dir", str(docs),
            "--out", str(tmp_path / "report.txt"),
        ],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    from igtdetect_spark.refmodel import load_model

    classes = load_model(str(model_path)).classes
    assert any(c.startswith(("B-", "I-")) for c in classes), classes
    report = (tmp_path / "report.txt").read_text()
    assert "--- Auto-Spans ---" in report
    header = report.splitlines()[0].split("\t")
    assert any(c.startswith(("B-", "I-")) for c in header), header

    r = subprocess.run(
        common + ["nfold", "--files", str(docs / "*.freki"), "--iters", "2"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    iters = [l for l in r.stdout.splitlines() if l.startswith("iter ")]
    assert [l.split(":")[0] for l in iters] == ["iter 0", "iter 1"], r.stdout
