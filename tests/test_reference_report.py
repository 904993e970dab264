"""Reference-shaped report parity (cli.py:285-321 / report1.json)."""


def test_reference_style_report(run_tiny, oracle_tiny):
    from codedup.stages.report import reference_style_report, summary

    rep = reference_style_report(run_tiny.report, run_tiny.members, run_tiny.verified)
    assert set(rep) == {"summary", "exact_duplicates", "similar_groups", "errors"}
    # the run's summary is passed through: equal to recomputing it
    assert rep["summary"] == summary(run_tiny.fingerprints, run_tiny.members)["summary"]

    # exact groups = clusters whose members share one sha (matches the
    # oracle's sha-identical groups that are NOT merged into near ones)
    for g in rep["exact_duplicates"]:
        assert len(g["files"]) > 1
        assert g["potential_savings"] == g["total_size"] - max(f["size"] for f in g["files"])
        assert len(g["hash"]) == 64

    for g in rep["similar_groups"]:
        assert len(g["files"]) > 1
        assert g["min_jaccard"] is None or g["min_jaccard"] >= 0.8
        assert g["potential_savings"] < g["total_size"]

    n_groups = len(rep["exact_duplicates"]) + len(rep["similar_groups"])
    assert n_groups == rep["summary"]["duplicate_groups"]
    assert n_groups == len(oracle_tiny.components)
    total_members = sum(len(g["files"]) for g in rep["exact_duplicates"] + rep["similar_groups"])
    assert total_members == rep["summary"]["files_in_groups"]
