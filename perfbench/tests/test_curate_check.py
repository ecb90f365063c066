"""The curate output check rejects a manifest that disagrees with its
corpus."""

from perfbench.workloads import manifest_errors

CORPUS = {"train": (400, 20_000), "eval": (40, 2_000)}
GOOD = {
    "stages": {
        "quality_kept": {"n_docs": 470, "n_tokens": 23_000},
        "decontaminated": {"n_docs": 450},
        "final": {"n_train": 400, "n_eval": 40, "train_tokens": 20_000, "eval_tokens": 2_000},
    }
}


def _with(stage: str, key: str, value: int) -> dict:
    stages = {k: dict(v) for k, v in GOOD["stages"].items()}
    stages[stage][key] = value
    return {"stages": stages}


def test_matching_manifest_passes():
    assert manifest_errors(GOOD, CORPUS) == []


def test_wrong_final_counts_fail():
    assert manifest_errors(_with("final", "n_train", 401), CORPUS)
    assert manifest_errors(_with("final", "eval_tokens", 1_999), CORPUS)


def test_missing_split_fails():
    assert manifest_errors(GOOD, {"train": CORPUS["train"]})


def test_growing_stage_counts_fail():
    assert manifest_errors(_with("decontaminated", "n_docs", 480), CORPUS)
