"""Registry invariants, checked without starting Spark.

The registry is its import order: ``load_all()`` imports the query
modules and returns ``REGISTRY`` in the order ``register`` was called.
The driver contract (``__spark_entry__.py``) is a thin view of it, so
these tests pin that view to the registry.
"""

import json
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entry
from masd_spark.queries import load_all

REPO = Path(__file__).resolve().parent.parent

# Records every register() call of a fresh import of the query modules.
_RECORD_REGISTRATION = r"""
import json
import masd_spark.queries as q

calls = []
register = q.register


def recording(name, *args, **kwargs):
    calls.append(name)
    return register(name, *args, **kwargs)


q.register = recording
q._import_query_modules()
print(json.dumps({"calls": calls, "load_all": list(q.load_all())}))
"""


def test_load_all_is_registration_order():
    first = list(load_all())
    assert list(load_all()) == first
    proc = subprocess.run(
        [sys.executable, "-c", _RECORD_REGISTRATION],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        check=True,
    )
    fresh = json.loads(proc.stdout.splitlines()[-1])
    registration = list(dict.fromkeys(fresh["calls"]))
    assert fresh["load_all"] == registration
    assert first == registration


def test_entry_queries_cover_registry():
    assert set(entry.queries()) == set(load_all())


def test_oracle_sql_is_exactly_the_oracled_specs():
    assert entry.oracle_sql() == {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }


def test_flagship_is_registered():
    assert entry.FLAGSHIP in load_all()
