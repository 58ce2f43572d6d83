"""Round-12 batch: its 11 specs follow the round-11 batch."""

from tests.registration_batches import (
    assert_batch_at,
    assert_specs_well_formed,
)


class TestStagingDisciplineR12:
    def test_r12_batch_registered_at_dict_head(self):
        # the batch left the driver's 50-name front; it now follows the
        # round-11 batch in literal order
        assert_batch_at(12, 433)

    def test_r13_r14_batches_registered_in_round_13(self):
        assert_batch_at(13, 6)
        assert_batch_at(14, 14)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(12)
