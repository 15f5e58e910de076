"""The frozen gold splits as data: their recorded levels and the loader's
error paths.

``GOLD_LEVELS`` is the level line ``gold_ud.gold_levels`` gives for each
UD split (the annotation kernel's triples P/R, UPOS, UAS/LAS), the block
``scripts/gold_error_analysis.py`` prints; a rule change that moves any
split's level must update the line and say why.
"""
import pytest

from vnlp_spark.plans import gold_ud_blind_data
from vnlp_spark.plans.gold_ud import gold_levels
from vnlp_spark.plans.gold_ud_blind_data import load_split

GOLD_LEVELS = """\
tuning   triples: P=1.000 R=1.000 (tp=454 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/453
heldout  triples: P=1.000 R=1.000 (tp=64 fp=0 fn=0)  UPOS=0.997  UAS=0.995 LAS=0.989  tok_mismatch=0/62
blind1   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind2   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=0.984  UAS=0.984 LAS=0.977  tok_mismatch=0/20
blind3   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=0.984  UAS=0.992 LAS=0.975  tok_mismatch=0/20
blind4   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind5   triples: P=0.950 R=0.950 (tp=19 fp=1 fn=1)  UPOS=1.000  UAS=1.000 LAS=0.991  tok_mismatch=0/20
blind6   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=0.992  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind7   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind8   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind9   triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind10  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind11  triples: P=1.000 R=1.000 (tp=19 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind12  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind13  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind14  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind15  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind16  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind17  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=0.991  UAS=1.000 LAS=0.991  tok_mismatch=0/20
blind18  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind19  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind20  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind21  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind22  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=0.992 LAS=0.992  tok_mismatch=0/20
blind23  triples: P=1.000 R=1.000 (tp=21 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind24  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind25  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind26  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind27  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=0.993  tok_mismatch=0/20
blind28  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind29  triples: P=1.000 R=1.000 (tp=21 fp=0 fn=0)  UPOS=0.993  UAS=0.986 LAS=0.986  tok_mismatch=0/21
blind30  triples: P=0.950 R=0.950 (tp=19 fp=1 fn=1)  UPOS=0.993  UAS=0.993 LAS=0.985  tok_mismatch=0/20
blind31  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind32  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind33  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind34  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind35  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind36  triples: P=1.000 R=1.000 (tp=19 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind37  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind38  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind39  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind40  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind41  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind42  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind43  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind44  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind45  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind46  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind47  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind48  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind49  triples: P=1.000 R=1.000 (tp=21 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=0.993  tok_mismatch=0/21
blind50  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind51  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind52  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind53  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind54  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind55  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind56  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind57  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind58  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind59  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
blind60  triples: P=1.000 R=1.000 (tp=20 fp=0 fn=0)  UPOS=1.000  UAS=1.000 LAS=1.000  tok_mismatch=0/20
"""


def test_every_split_at_its_recorded_level():
    assert gold_levels() == GOLD_LEVELS.splitlines()


_OK = "1\tKedi\tNOUN\t2\tnsubj\n2\tuyudu\tVERB\t0\troot\n"


@pytest.mark.parametrize(
    "body, message",
    [
        ("# text = Kedi uyudu\n1\tKedi\tNOUN\t2\n", "bad line"),
        ("# text = Kedi uyudu\n1\tKedi\tNOUN\t2\tnsubj\n3\tuyudu\tVERB\t0\troot\n",
         "non-sequential token id"),
        ("# text = Kedi uyudu\n1\tKedi\tNOUN\t2\tnsubj\tO\n2\tuyudu\tVERB\t0\troot\n",
         "NER column on only some tokens"),
        ("# only a comment\n\n", "no sentences parsed"),
    ],
    ids=["column-count", "token-id", "partial-ner", "empty"],
)
def test_load_split_rejects_malformed_files(tmp_path, monkeypatch, body, message):
    (tmp_path / "ok.conllu").write_text("# text = Kedi uyudu\n" + _OK, encoding="utf-8")
    (tmp_path / "bad.conllu").write_text(body, encoding="utf-8")
    monkeypatch.setattr(gold_ud_blind_data, "_DATA_DIR", str(tmp_path))
    assert load_split("ok") == [dict(text="Kedi uyudu", tokens=["Kedi", "uyudu"],
                                     upos=["NOUN", "VERB"], heads=[2, 0],
                                     deprels=["nsubj", "root"])]
    with pytest.raises(ValueError, match=message):
        load_split("bad")
