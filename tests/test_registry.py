"""The driver-contract registry: the size and order the driver's oracle gate
depends on (it checks the FIRST 50 entries of ``queries()`` in order)."""

import __spark_entry__ as entry


def test_registry_contract():
    names = list(entry.queries())
    assert len(names) == 50
    assert names[:3] == ["streaming_window", "multimodal_features", "multimodal_frames"]
    bodies = entry.oracle_sql()
    assert set(bodies) == set(names) - {"streaming_dedup"}
    assert all(sql.strip() for sql in bodies.values())
