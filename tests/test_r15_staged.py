"""Round-15 batch: it sits inside the driver's 50-name front, at slot 16."""

from tests.registration_batches import (
    assert_batch_at,
    assert_importable_before_registry,
    assert_specs_well_formed,
)


class TestStagingDisciplineR15:
    def test_batch_registered_at_dict_head(self):
        assert_batch_at(15, 16)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(15)

    def test_leaf_importable_first(self):
        assert_importable_before_registry(15)
