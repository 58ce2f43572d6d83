"""Multimodal analysis gates (analytics/media_analysis.py): perceptual-hash
recall and invariance, shot detection, cross-modal matching and the media
metadata quality gate."""

from tests.conftest import SF_DIR


class TestMediaGates:
    def test_phash_banding_has_pigeonhole_recall(self, spark):
        # tau must stay below the band count or the banded join silently
        # loses distance-(bands..tau) pairs -- the exact bug the oracle
        # caught when pHash first reused the 4-band aHash join at tau=6
        import pytest as _pytest

        from pgsf_spark.analytics.media_analysis import (
            PHASH_BANDS,
            PHASH_TAU,
            phash_near_dup_pairs,
        )

        assert PHASH_TAU < PHASH_BANDS
        hashes = spark.createDataFrame(
            [(1, 0, 0), (2, 0, 0)], "media_id long, phash_hi long, phash_lo long"
        )
        with _pytest.raises(ValueError):
            phash_near_dup_pairs(hashes, tau=PHASH_BANDS)

    def test_phash_brightness_invariance_vs_ahash(self, spark):
        # the property that makes pHash "aHash's robust sibling": a global
        # brightness shift (no wraparound) leaves every pHash bit intact,
        # because the DCT AC structure and its median shift together
        from pgsf_spark.analytics.media_analysis import _phash_bits_from_grid

        grid = [((3 * i) % 23) * 7 + 10 for i in range(64)]
        shifted = [v + 40 for v in grid]
        assert _phash_bits_from_grid(grid) == _phash_bits_from_grid(shifted)

    def test_shot_detector_matches_construction(self, spark):
        # ground truth by construction: cuts at every multiple of shot_len,
        # zero-delta transitions everywhere else
        from pgsf_spark.analytics.media_analysis import q_video_shot_boundaries

        for r in q_video_shot_boundaries(spark, SF_DIR).collect():
            m, n = r["media_id"], r["n_frames"]
            shot_len = 3 + m % 4
            expect_cuts = [f for f in range(1, n) if f % shot_len == 0]
            assert r["cut_frames"] == ",".join(map(str, expect_cuts)), r
            assert r["n_static"] == (n - 1) - len(expect_cuts), r

    def test_cross_modal_finds_its_own_reencode(self, spark):
        # every video's frame 0 replicates its image's channel-0 texture;
        # the channel-collapse "re-encode" costs a few threshold-adjacent
        # bits, so most (not all: ids 15/31's steepest textures land at
        # hamming 4 > tau, verified against the oracle) self-pairs
        # surface, half of them at hamming 0
        from pgsf_spark.analytics.multimodal import AHASH_TAU
        from pgsf_spark.analytics.media_analysis import q_multimodal_dedup_cross

        rows = q_multimodal_dedup_cross(spark, SF_DIR).collect()
        self_pairs = {
            r["video_id"]: r["hamming"]
            for r in rows
            if r["image_id"] == r["video_id"] and r["frame_idx"] == 0
        }
        assert len(self_pairs) >= 28  # 30 of 32 by construction
        assert all(h <= AHASH_TAU for h in self_pairs.values())
        assert sum(1 for h in self_pairs.values() if h == 0) >= 8

    def test_quality_gate_surfaces_marker_only_and_corrupt(self, spark):
        from pgsf_spark.analytics.media_analysis import (
            q_media_metadata_quality_gate,
        )

        by_kind = {
            r["kind"]: r
            for r in q_media_metadata_quality_gate(spark, SF_DIR).collect()
        }
        assert set(by_kind) == {"png", "jpeg", "wav", "rvid"}
        # marker-only jpegs: metadata parses, payload never completes
        assert by_kind["jpeg"]["n_meta_ok"] > 0
        assert by_kind["jpeg"]["n_complete"] == 0
        # corrupt rows exist and parse nothing
        for r in by_kind.values():
            assert r["n_corrupt"] > 0
            assert r["n_meta_ok"] == r["n_rows"] - r["n_corrupt"]
