"""Round-14 batch: it sits inside the driver's 50-name front, at slot 14."""

from tests.registration_batches import (
    assert_batch_at,
    assert_specs_well_formed,
)


class TestStagingDisciplineR14:
    def test_batch_registered_at_dict_head(self):
        assert_batch_at(14, 14)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(14)
