"""Round-20 batch: the tail of the literal, at slot 444."""

from tests.registration_batches import (
    BATCHES,
    assert_batch_at,
    assert_importable_before_registry,
    assert_specs_well_formed,
)


class TestStagingDisciplineR20:
    def test_batch_size_and_no_collisions(self):
        assert len(BATCHES[20]) == 2
        for other, names in BATCHES.items():
            if other != 20:
                assert not set(BATCHES[20]) & set(names), other
        assert_batch_at(20, 444)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(20)

    def test_leaf_importable_first(self):
        assert_importable_before_registry(20)
