"""The driver-contract registry: the size and order the driver's oracle gate
depends on (it checks the FIRST 50 entries of ``queries()`` in order)."""

import dataclasses
import pathlib
import re

import __spark_entry__ as entry
from entity_matching_spark.config import MatchConfig


def test_registry_contract():
    names = list(entry.queries())
    assert len(names) == 50
    assert names[:3] == ["streaming_window", "multimodal_features", "multimodal_frames"]
    bodies = entry.oracle_sql()
    assert set(bodies) == set(names) - {"streaming_dedup"}
    assert all(sql.strip() for sql in bodies.values())


def test_every_config_field_is_read():
    """A MatchConfig field nothing reads is a dead knob: each field must be
    read as ``.<name>`` somewhere in the package outside config.py."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "entity_matching_spark"
    src = "\n".join(
        p.read_text() for p in sorted(pkg.rglob("*.py")) if p.name != "config.py"
    )
    unread = [
        f.name for f in dataclasses.fields(MatchConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert not unread, unread
