"""Table → external-id-column registry.

Reference: ``pg2kafka.external_id_relations`` with a UNIQUE index on
``table_name`` (sql/migrations.sql:20-28) plus the idempotent-setup
guard that warns and keeps the existing mapping on re-registration
(sql/triggers.sql:86-94, O10/O11).

At scale this is driver-side metadata: a dict of table→key-column that
is closed over by column expressions (and therefore shipped in the
serialized plan, never shuffled). The reference's 1-row index probe per
trigger fire (sql/triggers.sql:10-12) becomes a constant in the plan.
"""

from __future__ import annotations

import warnings


class Registry:
    """In-memory table→key-column mapping with pg2kafka setup semantics."""

    def __init__(self, mapping: dict[str, str] | None = None) -> None:
        self._mapping: dict[str, str] = dict(mapping or {})

    def register(self, table_name: str, external_id_column: str) -> bool:
        """Register a table's key column.

        Idempotent: a second registration for the same table warns and
        is ignored (sql/triggers.sql:90-94). Returns True if newly
        registered.
        """
        if table_name in self._mapping:
            warnings.warn(
                f"table {table_name!r} already registered with external id "
                f"column {self._mapping[table_name]!r}; ignoring",
                stacklevel=2,
            )
            return False
        self._mapping[table_name] = external_id_column
        return True

    def key_column(self, table_name: str) -> str | None:
        """The external-id column for a table, or None if untracked
        (trigger path: unset key → NULL external_id, sql/triggers.sql:10-18)."""
        return self._mapping.get(table_name)

    def __contains__(self, table_name: str) -> bool:
        return table_name in self._mapping

    def as_dict(self) -> dict[str, str]:
        return dict(self._mapping)

