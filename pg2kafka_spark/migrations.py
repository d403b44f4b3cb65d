"""E3 migrations bootstrap — the ``PERFORM_MIGRATIONS`` analog.

Reference main.go:58-61: when ``PERFORM_MIGRATIONS`` is set, the
daemon executes migrations.sql (outbox table + external-id registry,
sql/migrations.sql:1-28) and triggers.sql (capture functions) before
relaying; both are idempotent (``CREATE SCHEMA/TABLE IF NOT EXISTS``).

The Spark outbox is schema-on-write, so the engine's bootstrap pins
what Postgres DDL pinned implicitly: it creates the outbox directory
and writes a manifest recording the event-envelope schema, a format
version, and the table→key registry. Re-running is a no-op
(CREATE-IF-NOT-EXISTS semantics); re-running after the envelope
changed fails FAST at bootstrap — where a migration conflict should
surface — instead of deep inside a running stream as an analysis
error. Re-registering a table with a different key column warns and
keeps the existing mapping, exactly the setup() guard
(sql/triggers.sql:86-94, O11).
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlsplit
from urllib.request import url2pathname

from pg2kafka_spark.event import EVENT_SCHEMA
from pg2kafka_spark.registry import Registry

#: Manifest file at the outbox root. Underscore prefix: Spark's file
#: sources ignore underscore-prefixed files, so the manifest never
#: pollutes the event stream.
MANIFEST_NAME = "_pg2kafka_manifest.json"
MANIFEST_VERSION = 1


def _manifest_path(outbox_dir: str) -> str:
    """The manifest's local path. A ``file:`` URI names its local path;
    any other scheme (``s3a://``, ``hdfs://``) raises ``ValueError``,
    because this bootstrap writes through the local file system and
    would otherwise create a directory named after the URI."""
    parts = urlsplit(outbox_dir)
    if parts.scheme == "file":
        outbox_dir = url2pathname(parts.path)
    elif parts.scheme:
        raise ValueError(
            f"outbox {outbox_dir!r} is not on the local file system; "
            "only a local path or a file: URI can be bootstrapped"
        )
    return os.path.join(outbox_dir, MANIFEST_NAME)


def perform_migrations(outbox_dir: str, registry: Registry | None = None) -> bool:
    """Create or validate the outbox layout. Returns True when the
    outbox was newly initialized, False when it already existed
    (idempotent re-run).

    Raises ``RuntimeError`` on a schema conflict — the outbox was
    initialized under a different event envelope (or manifest format),
    the one condition the reference's DDL could also not silently
    migrate. Raises ``ValueError`` for an outbox URI that is not
    ``file:``."""
    path = _manifest_path(outbox_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    schema = json.loads(EVENT_SCHEMA.json())
    reg = registry.as_dict() if registry is not None else {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            existing = json.load(f)
        if existing.get("version") != MANIFEST_VERSION:
            raise RuntimeError(
                f"outbox {outbox_dir} has manifest version "
                f"{existing.get('version')!r}, engine speaks {MANIFEST_VERSION}"
            )
        if existing.get("event_schema") != schema:
            raise RuntimeError(
                f"outbox {outbox_dir} was initialized with a different event "
                "envelope; refusing to relay a log the engine cannot parse"
            )
        # merge registrations with the reference's warn-on-rekey guard
        merged = Registry(existing.get("registry") or {})
        for table, key in reg.items():
            merged.register(table, key)
        existing["registry"] = merged.as_dict()
        _write(path, existing)
        return False
    _write(
        path,
        {"version": MANIFEST_VERSION, "event_schema": schema, "registry": reg},
    )
    return True


def load_registry(outbox_dir: str) -> Registry:
    """The persisted table→key registry of a bootstrapped outbox
    (empty registry when no manifest exists — untracked tables get
    NULL keys, same as the trigger path)."""
    path = _manifest_path(outbox_dir)
    if not os.path.exists(path):
        return Registry()
    with open(path, encoding="utf-8") as f:
        return Registry(json.load(f).get("registry") or {})


def _write(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic: readers never see a torn manifest


__all__ = ["perform_migrations", "load_registry", "MANIFEST_NAME", "MANIFEST_VERSION"]
