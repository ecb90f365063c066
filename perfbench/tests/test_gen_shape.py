"""The generated tables have the shape of the relational fixtures.

The expected figures were measured on the repository's sf=0.01 fixture
files with ``python3 perfbench/shape.py``; README.md lists them beside the
sf=0.1 fixtures and the generator.
"""

from perfbench import gen
from perfbench.shape import shape

FIXTURE_SF001 = {
    "rows": {
        "customer": 1500, "documents": 500, "embeddings": 500, "events": 10000,
        "lineitem": 60000, "nation": 25, "orders": 15000, "part": 2000,
        "region": 5, "supplier": 100,
    },
    "documents": {
        "words_mean": 54.33, "words_min": 10, "vocabulary": 31, "sources": 20,
        "dup_marked_share": 0.05, "dup_of_present_doc": 24,
        "lang_share": {"de": 0.140, "en": 0.436, "es": 0.146, "fr": 0.128, "zh": 0.150},
    },
    "events": {"users_per_event": 0.015, "events_per_user_cv": 0.126, "gap_cv": 0.995},
    "embeddings": {"dim": 64, "nearest_cos_median": 0.3665, "labels": 10},
    "lineitem": {"orders_with_lines": 14743, "lines_per_order_cv": 0.4738},
}


def test_generated_tables_match_fixture_shape():
    got = shape(gen.build_tables())
    want = FIXTURE_SF001
    assert got["rows"] == want["rows"]
    d, wd = got["documents"], want["documents"]
    for k in ("words_min", "vocabulary", "sources", "dup_marked_share"):
        assert d[k] == wd[k], k
    assert abs(d["words_mean"] - wd["words_mean"]) < 1.5
    assert abs(d["dup_of_present_doc"] - wd["dup_of_present_doc"]) <= 2
    for lang, share in wd["lang_share"].items():
        assert abs(d["lang_share"][lang] - share) < 0.05, lang
    e = got["events"]
    assert e["users_per_event"] == want["events"]["users_per_event"]
    assert abs(e["events_per_user_cv"] - want["events"]["events_per_user_cv"]) < 0.03
    assert abs(e["gap_cv"] - want["events"]["gap_cv"]) < 0.05
    m = got["embeddings"]
    assert (m["dim"], m["labels"]) == (64, 10)
    assert abs(m["nearest_cos_median"] - want["embeddings"]["nearest_cos_median"]) < 0.02
    assert got["lineitem"]["orders_with_lines"] == want["lineitem"]["orders_with_lines"]
