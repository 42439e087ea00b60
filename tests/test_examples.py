"""The quickstart example must keep running end-to-end — it is the
documentation a migrating user executes first."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"),
)


def test_quickstart_tour(spark, sf_dir, tmp_path):
    import quickstart

    out = quickstart.run(spark, str(tmp_path / "qs"), sf_dir)
    assert out["append_span"] == (0, 99)
    assert out["point_read"] == (42, "event-42", 0, 0)
    assert out["tail_values"] == ["event-97", "event-98", "event-99"]
    assert out["native_tail"] == [98, 99]
    assert out["sql_count"] == 51  # offsets 50..100 incl. the engine append
    assert "PERMISSION_DENIED" in out["acl"]
    assert out["connector_rows"] == 11  # offsets 90..100
    assert len(out["scorecard"]) == 3
    assert out["bm25_index_top3"] == out["bm25_top3"]
    # frame-fingerprint tier: clip 0 = 6 frames in 2 scenes (the 7->
    # 0xFFFF00FF jump is the one mid-clip cut), clip 1 = 4 steady
    # frames in 1 scene; the sweep merges everything at threshold 64
    assert out["scene_accounting"] == [(0, 6, 2), (1, 4, 1)]
    assert out["threshold_sweep"] == [(4, 3), (64, 2)]
    # cross-clip retrieval: clips 0+1 share the spliced 6-frame scene;
    # the unrelated clip 2 pairs with nobody
    assert out["shared_scene_pairs"] == [(0, 1)]
    # cross-modality verdicts: same calm scene under opposite-phase
    # audio -> re_dubbed; energy-frame-permuted text (identical
    # envelope, no shared 9-char window) -> audio_only
    assert out["av_verdicts"] == [
        (10, 11, "re_dubbed"),
        (12, 13, "audio_only"),
    ]
    assert out["http_read"] == "event-0"
