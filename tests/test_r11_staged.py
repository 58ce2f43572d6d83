"""Round-11 batch: its 25 specs follow the first 408 names of the literal."""

from tests.registration_batches import (
    assert_batch_at,
    assert_specs_well_formed,
)


class TestStagingDiscipline:
    def test_r11_batch_registered(self):
        assert_batch_at(11, 408)

    def test_staged_specs_shaped_like_registry_specs(self):
        assert_specs_well_formed(11)
