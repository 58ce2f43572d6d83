"""Round-21 batch: the tail of the literal, at slot 446."""

from tests.registration_batches import (
    BATCHES,
    assert_batch_at,
    assert_importable_before_registry,
    assert_specs_well_formed,
)


class TestStagingDisciplineR21:
    def test_batch_size_and_no_collisions(self):
        assert len(BATCHES[21]) == 2
        for other, names in BATCHES.items():
            if other != 21:
                assert not set(BATCHES[21]) & set(names), other
        assert_batch_at(21, 446)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(21)

    def test_leaf_importable_first(self):
        assert_importable_before_registry(21)
