"""Example transform module — source-tracking enrichment.

Implements the reference transform contract
(``/root/reference/examples/add_source_tracking.py``): a module-level
``transform(data)`` over a list of ``{id, vector, metadata}`` dicts,
returning the (possibly filtered / modified) list. The engine applies
it inside Arrow-batched ``mapInArrow`` partitions, so the function
runs on executors against partition-sized record lists (vectors as
lists of Python ``float``) — identical user code, distributed
execution.

Usage:
    vectordb-migrate-spark --config config.json \
        --transform examples/add_source_tracking.py
"""

import datetime


def transform(data):
    """Stamp each item's metadata with provenance fields.

    Adds:
    - ``source_db``: name of the system the row came from
    - ``migration_timestamp``: ISO-8601 time of this run

    ``data`` is a list of dicts with ``id``, ``vector`` and
    ``metadata`` keys; return the list to keep, drop items to filter
    them out of the migration.
    """
    source_db = "custom_source"
    timestamp = datetime.datetime.now(datetime.timezone.utc).isoformat()
    for item in data:
        if item.get("metadata") is None:
            item["metadata"] = {}
        item["metadata"]["source_db"] = source_db
        item["metadata"]["migration_timestamp"] = timestamp
    return data


if __name__ == "__main__":
    import json

    sample = [
        {"id": "1", "vector": [0.1, 0.2], "metadata": {"name": "one"}},
        {"id": "2", "vector": [0.3, 0.4], "metadata": None},
    ]
    print(json.dumps(transform(sample), indent=2))
