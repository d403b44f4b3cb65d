"""Deployment-surface tests: the daemon entry point and source/sink
config builders (the parts that need no live Postgres/Kafka)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from pg2kafka_spark import __main__ as daemon
from pg2kafka_spark.sources import kafka_sink_options, read_postgres_table
from pg2kafka_spark.streaming import bootstrap_outbox


def test_kafka_sink_options_mirror_reference_producer_config():
    opts = kafka_sink_options("broker:9092")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["kafka.compression.type"] == "snappy"  # main.go:194
    assert opts["kafka.acks"] == "all"
    assert opts["kafka.enable.idempotence"] == "true"  # ordered retries


def test_partitioned_jdbc_read_requires_bounds(spark):
    with pytest.raises(ValueError, match="bounds"):
        read_postgres_table(
            spark, "jdbc:postgresql://h/db", "users", partition_column="id"
        )


def test_daemon_dry_run_drains_and_exits(spark, tmp_path):
    # RELAY_ONCE + DRY_RUN = the reference's startup drain with the
    # stdout producer (main.go:106-115,158-160): processes the backlog,
    # prints, returns 0.
    outbox = str(tmp_path / "outbox")
    users = spark.createDataFrame([Row(uid="u1", name="a"), Row(uid="u2", name="b")])
    bootstrap_outbox(users, outbox, "users", "uid")
    rc = daemon.main(
        {
            "OUTBOX_DIR": outbox,
            "DATABASE": "testdb",
            "TOPIC_NAMESPACE": "staging",
            "DRY_RUN": "true",
            "RELAY_ONCE": "true",
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 0


def test_daemon_ordered_delivery_drains_and_exits(spark, tmp_path):
    """Every micro-batch goes through ordered_for_delivery before the
    wire projection (the reference's per-entity order contract,
    README.md:38-40), with no option to turn it off — the daemon must
    drain cleanly with the per-key sort in the loop and a NULL-key row
    delivered as an unkeyed message."""
    outbox = str(tmp_path / "outbox")
    users = spark.createDataFrame(
        [Row(uid="u1", name="a"), Row(uid="u2", name="b"),
         Row(uid=None, name="c")]
    )
    bootstrap_outbox(users, outbox, "users", "uid")
    rc = daemon.main(
        {
            "OUTBOX_DIR": outbox,
            "DATABASE": "testdb",
            "DRY_RUN": "true",
            "RELAY_ONCE": "true",
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 0


def test_daemon_requires_outbox_dir():
    assert daemon.main({}) == 2


@pytest.mark.parametrize("page_files", ["0", "-1", "abc"])
def test_daemon_rejects_bad_page_size(tmp_path, capsys, page_files):
    """A RELAY_PAGE_FILES that is not a positive integer is a config
    error like a missing OUTBOX_DIR: exit 2 with a message, before any
    Spark work — not a ValueError from int() or an
    IllegalArgumentException when the stream starts."""
    rc = daemon.main(
        {
            "OUTBOX_DIR": str(tmp_path / "outbox"),
            "RELAY_PAGE_FILES": page_files,
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 2
    assert "RELAY_PAGE_FILES" in capsys.readouterr().err


@pytest.mark.parametrize("trigger", ["abc", "-1 seconds"])
def test_daemon_rejects_bad_trigger(spark, tmp_path, capsys, trigger):
    """A RELAY_TRIGGER Spark cannot parse (or a negative interval) is a
    config error like a bad RELAY_PAGE_FILES: exit 2 with a message
    naming the variable, not a traceback out of writeStream.trigger."""
    outbox = tmp_path / "outbox"
    outbox.mkdir()
    rc = daemon.main(
        {
            "OUTBOX_DIR": str(outbox),
            "RELAY_ONCE": "false",
            "RELAY_TRIGGER": trigger,
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "RELAY_TRIGGER" in err
    assert "Traceback" not in err
    assert not (tmp_path / "ckpt").exists()


def test_daemon_restarts_over_orphan_first_offset(spark, tmp_path):
    """A daemon killed during its very first offset write leaves only
    ``offsets/.0.<uuid>.tmp`` in the checkpoint; the RELAY_ONCE
    restart drains over it and exits 0."""
    outbox = str(tmp_path / "outbox")
    ckpt = tmp_path / "ckpt"
    bootstrap_outbox(spark.createDataFrame([Row(uid="u1", name="a")]), outbox, "users", "uid")
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / ".0.6ba7b810-9dad-11d1-80b4-00c04fd430c8.tmp").touch()
    rc = daemon.main(
        {
            "OUTBOX_DIR": outbox,
            "DRY_RUN": "true",
            "RELAY_ONCE": "true",
            "CHECKPOINT_DIR": str(ckpt),
        }
    )
    assert rc == 0
    assert (ckpt / "commits" / "0").exists()


def test_daemon_rejects_missing_outbox(spark, tmp_path, capsys):
    """An OUTBOX_DIR the file source cannot find is a config error:
    exit 2 with a message naming the variable, not an
    AnalysisException traceback out of the stream read."""
    rc = daemon.main(
        {
            "OUTBOX_DIR": str(tmp_path / "missing"),
            "RELAY_ONCE": "true",
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "OUTBOX_DIR" in err
    assert "Traceback" not in err
    assert not (tmp_path / "ckpt").exists()


def test_streaming_modules_share_one_stream_runner():
    """Only streaming/relay.py builds, starts or awaits a stream: every
    maintained-state loop goes through its read_file_stream /
    start_stream / await_drain, and the checkpoint scrub is called in
    one place in the package (inside start_stream)."""
    import re
    from pathlib import Path

    import pg2kafka_spark

    package = Path(pg2kafka_spark.__file__).parent
    needles = ("readStream", "writeStream", "awaitTermination(", "raise TimeoutError", "scrub_virgin_checkpoint(")
    offenders = [
        (path.name, n)
        for path in sorted((package / "streaming").glob("*.py"))
        if path.name != "relay.py"
        for n in needles
        if n in path.read_text()
    ]
    assert not offenders
    calls = [
        path.name
        for path in sorted(package.rglob("*.py"))
        for _ in re.finditer(r"(?<!def )\bscrub_virgin_checkpoint\(", path.read_text())
    ]
    assert calls == ["relay.py"]


def test_package_writes_the_outbox_only_through_append_outbox():
    """No module of the package hands an outbox path to a DataFrame
    writer (``.write….parquet`` / ``.save``) or to ``append_files``
    outside ``append_outbox``, so every outbox row gets the log's next
    id and every outbox file its place in the publish order."""
    import ast
    from pathlib import Path

    import pg2kafka_spark

    package = Path(pg2kafka_spark.__file__).parent
    offenders = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        inside_append_outbox = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "append_outbox"
            for node in ast.walk(fn)
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) or id(call) in inside_append_outbox:
                continue
            f = call.func
            writer = (
                isinstance(f, ast.Attribute)
                and f.attr in ("parquet", "save")
                and ".write" in ast.unparse(f.value)
            )
            publish = ast.unparse(f).endswith("append_files")
            if (writer or publish) and any(
                "outbox" in ast.unparse(a) for a in [*call.args, *call.keywords]
            ):
                offenders.append((path.name, call.lineno))
    assert not offenders


def test_trigger_rules_live_in_event_and_operators():
    """Outside ``event.py`` and ``operators/``, no module of the package
    builds a diff payload (``changed_columns_json``), chooses a JSON
    null rule (an ``ignoreNullFields`` option) or spells a statement or
    the topic prefix as a string: the trigger's rules, the envelope and
    the topic have one owner each. An ast scan, so SQL text (the
    oracles) does not count."""
    import ast
    from pathlib import Path

    import pg2kafka_spark

    package = Path(pg2kafka_spark.__file__).parent
    owned = {"INSERT", "UPDATE", "DELETE", "SNAPSHOT", "pg2kafka", "ignoreNullFields"}
    offenders = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package)
        if rel.parts[0] == "operators" or rel.as_posix() == "event.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                called = ast.unparse(node.func).rsplit(".", 1)[-1]
                hit = called == "changed_columns_json" or any(
                    k.arg == "ignoreNullFields" for k in node.keywords
                )
            else:
                hit = isinstance(node, ast.Constant) and node.value in owned
            if hit:
                offenders.append((rel.as_posix(), node.lineno))
    assert not offenders


def test_per_call_values_enter_the_code_only_through_by_reference():
    """No module of the package calls ``current_timestamp`` or Spark's
    ``uuid()`` (as a function or in SQL text) outside
    ``event.by_reference``: both are spelled into the generated Java as
    per-call literals, so every call of a plan carrying them compiles
    its classes anew. An ast scan, so docstrings do not count."""
    import ast
    import re
    from pathlib import Path

    import pg2kafka_spark

    package = Path(pg2kafka_spark.__file__).parent
    per_call = ("current_timestamp", "uuid")
    offenders = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        inside_helper = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "by_reference"
            for node in ast.walk(fn)
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) or id(call) in inside_helper:
                continue
            sql = [
                a.value for a in [*call.args, *(k.value for k in call.keywords)]
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            ]
            if ast.unparse(call.func).rsplit(".", 1)[-1] in per_call or any(
                re.search(rf"\b{name}\s*\(", text, re.IGNORECASE)
                for text in sql
                for name in per_call
            ):
                offenders.append((path.relative_to(package).as_posix(), call.lineno))
    assert not offenders


def test_streaming_stores_share_one_directory_swap():
    """Only streaming/swap.py renames a store directory or names its
    .__old__ copy: every compaction, retrain and label fold goes
    through swap_in, so no copy of the swap can drift from the rest."""
    from pathlib import Path

    import pg2kafka_spark

    streaming = Path(pg2kafka_spark.__file__).parent / "streaming"
    offenders = [
        (path.name, n)
        for path in sorted(streaming.glob("*.py"))
        if path.name != "swap.py"
        for n in ("os.rename(", '".__old__"')
        if n in path.read_text()
    ]
    assert not offenders


def test_make_recipes_name_existing_files():
    """Every script a Makefile recipe runs (tools/…, tests/…, bench.py,
    perfbench/…) exists, so deleting a file cannot leave a target
    that fails only when someone runs it."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    recipes = [
        line for line in (root / "Makefile").read_text().splitlines()
        if line.startswith("\t")
    ]
    paths = {
        m.group(0)
        for line in recipes
        for m in re.finditer(r"(?:tools|perfbench|tests)/[\w./-]+|\bbench\.py\b", line)
    }
    assert "bench.py" in paths and any(p.startswith("tools/") for p in paths)
    assert not [p for p in sorted(paths) if not (root / p).exists()]


def test_every_tool_is_run():
    """Every file under tools/ is run by a Makefile recipe or imported
    by code under pg2kafka_spark/, perfbench/ or tests/, or by bench.py,
    so a tool nothing runs cannot linger in the tree."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    recipes = "\n".join(
        line for line in (root / "Makefile").read_text().splitlines()
        if line.startswith("\t")
    )
    code = "\n".join(
        path.read_text()
        for path in [root / "bench.py"]
        + [p for d in ("pg2kafka_spark", "perfbench", "tests") for p in sorted((root / d).rglob("*.py"))]
    )
    unrun = [
        tool.name
        for tool in sorted((root / "tools").iterdir())
        if tool.is_file()
        and f"tools/{tool.name}" not in recipes
        and not re.search(rf"^\s*(?:from|import)\s+tools\.{re.escape(tool.stem)}\b", code, re.M)
    ]
    assert not unrun


def test_daemon_imports_no_analytics_stack():
    """`python -m pg2kafka_spark` loads the relay and nothing it never
    calls: pandas and pyarrow stay out of a fresh interpreter that
    imports the daemon."""
    import subprocess
    import sys
    from pathlib import Path

    probe = (
        "import sys, pg2kafka_spark.__main__; "
        "print(sorted({'pandas', 'pyarrow'} & set(sys.modules)))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == "[]"


# --- driver JVM options (session.DRIVER_JIT_OPTIONS) ----------------------


def _jit_thresholds() -> dict[str, str]:
    """``session.DRIVER_JIT_OPTIONS`` as ``{flag name: value}``."""
    from pg2kafka_spark.session import DRIVER_JIT_OPTIONS

    pairs = (opt.removeprefix("-XX:").split("=") for opt in DRIVER_JIT_OPTIONS.split())
    return dict(pairs)


def test_session_jvm_runs_with_the_jit_thresholds(spark):
    """The fixture's driver JVM, launched by ``get_spark``, runs with
    the four C2 thresholds of ``session.DRIVER_JIT_OPTIONS``."""
    want = _jit_thresholds()
    assert sorted(want) == [
        "Tier4BackEdgeThreshold",
        "Tier4CompileThreshold",
        "Tier4InvocationThreshold",
        "Tier4MinInvocationThreshold",
    ]
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert {name: bean.getVMOption(name).getValue() for name in want} == want


def test_jit_thresholds_survive_caller_extra_java_options(tmp_path):
    """A caller's ``spark.driver.extraJavaOptions`` (perfbench passes
    its temp dir that way) adds to the thresholds instead of replacing
    them: a fresh JVM holds both."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    names = sorted(_jit_thresholds())
    probe = f"""
import json
from pg2kafka_spark.session import get_spark
spark = get_spark("jit-probe", cpus=1, extra_conf={{
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={tmp_path}"}})
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({{
    "tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "options": {{n: bean.getVMOption(n).getValue() for n in {names!r}}},
}}))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True, text=True, check=True, timeout=300,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got == {"tmpdir": str(tmp_path), "options": _jit_thresholds()}


# --- migrations bootstrap (PERFORM_MIGRATIONS analog, main.go:58-61) ------


def test_perform_migrations_creates_and_is_idempotent(tmp_path):
    from pg2kafka_spark.migrations import (
        MANIFEST_NAME,
        load_registry,
        perform_migrations,
    )
    from pg2kafka_spark.registry import Registry

    outbox = str(tmp_path / "fresh" / "outbox")  # nested: mkdir -p semantics
    assert perform_migrations(outbox, Registry({"products": "sku"})) is True
    assert (tmp_path / "fresh" / "outbox" / MANIFEST_NAME).exists()
    # CREATE IF NOT EXISTS: second run is a no-op, not an error
    assert perform_migrations(outbox) is False
    assert load_registry(outbox).key_column("products") == "sku"


def test_perform_migrations_warns_and_keeps_mapping_on_rekey(tmp_path):
    # the setup() guard (sql/triggers.sql:86-94): re-registering with a
    # different key column warns and keeps the original
    from pg2kafka_spark.migrations import load_registry, perform_migrations
    from pg2kafka_spark.registry import Registry

    outbox = str(tmp_path / "outbox")
    perform_migrations(outbox, Registry({"products": "sku"}))
    with pytest.warns(UserWarning, match="already registered"):
        perform_migrations(outbox, Registry({"products": "id", "users": "uid"}))
    reg = load_registry(outbox)
    assert reg.key_column("products") == "sku"  # original kept
    assert reg.key_column("users") == "uid"  # new table added


def test_perform_migrations_fails_fast_on_envelope_conflict(tmp_path):
    import json

    from pg2kafka_spark.migrations import MANIFEST_NAME, perform_migrations

    outbox = str(tmp_path / "outbox")
    perform_migrations(outbox)
    path = tmp_path / "outbox" / MANIFEST_NAME
    doc = json.loads(path.read_text())
    doc["event_schema"]["fields"] = doc["event_schema"]["fields"][:-1]
    path.write_text(json.dumps(doc))
    with pytest.raises(RuntimeError, match="different event envelope"):
        perform_migrations(outbox)


def test_daemon_bootstraps_outbox_with_perform_migrations(spark, tmp_path):
    # a fresh deployment: PERFORM_MIGRATIONS creates the outbox layout,
    # the drain finds an empty log and exits cleanly (main.go:58-61
    # before the drain at main.go:85-93)
    from pg2kafka_spark.migrations import MANIFEST_NAME

    outbox = str(tmp_path / "outbox")
    rc = daemon.main(
        {
            "OUTBOX_DIR": outbox,
            "PERFORM_MIGRATIONS": "true",
            "DATABASE": "testdb",
            "DRY_RUN": "true",
            "RELAY_ONCE": "true",
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
    )
    assert rc == 0
    assert (tmp_path / "outbox" / MANIFEST_NAME).exists()


def test_perform_migrations_bootstraps_file_uri_and_rejects_remote_outbox(
    spark, tmp_path, monkeypatch, capsys
):
    # a file: URI bootstraps its local path; any other scheme is a
    # config error, and neither leaves a directory named after the URI
    # in the working directory
    from pg2kafka_spark.migrations import MANIFEST_NAME, perform_migrations

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    env = {
        "PERFORM_MIGRATIONS": "true",
        "DATABASE": "testdb",
        "DRY_RUN": "true",
        "RELAY_ONCE": "true",
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
    }
    outbox = tmp_path / "outbox"
    assert daemon.main({**env, "OUTBOX_DIR": outbox.as_uri()}) == 0
    assert (outbox / MANIFEST_NAME).exists()

    assert daemon.main({**env, "OUTBOX_DIR": "s3a://bucket/outbox"}) == 2
    err = capsys.readouterr().err
    assert "PERFORM_MIGRATIONS" in err and "OUTBOX_DIR" in err
    with pytest.raises(ValueError, match="file: URI"):
        perform_migrations("s3a://bucket/outbox")
    assert list(cwd.iterdir()) == []


class TestTextFormatSources:
    """JSONL/CSV corpus sources (sources.py): schema-pinned reads
    must reproduce the parquet table exactly, and malformed lines
    must quarantine instead of killing the job or vanishing."""

    DOC_SCHEMA = (
        "doc_id bigint, source string, lang string, text string"
    )

    def _docs(self, spark):
        from pg2kafka_spark.catalog import load_table

        return load_table(
            spark, "documents", "/root/testdata/sf0.001"
        ).select("doc_id", "source", "lang", "text")

    def test_jsonl_roundtrips_parquet_table(self, spark, tmp_path):
        from pg2kafka_spark.sources import read_jsonl, split_quarantine

        docs = self._docs(spark)
        p = str(tmp_path / "docs_jsonl")
        docs.write.json(p)
        clean, bad = split_quarantine(
            read_jsonl(spark, p, self.DOC_SCHEMA)
        )
        assert bad.count() == 0
        a = sorted(map(tuple, docs.collect()))
        b = sorted(map(tuple, clean.select(*docs.columns).collect()))
        assert a == b

    def test_csv_roundtrips_parquet_table(self, spark, tmp_path):
        from pg2kafka_spark.sources import read_csv, split_quarantine

        docs = self._docs(spark)
        p = str(tmp_path / "docs_csv")
        # corpus text is space-separated tokens (no quoting needed for
        # the fixture, but write with defaults so quoting is exercised
        # if present)
        docs.write.option("header", "true").csv(p)
        clean, bad = split_quarantine(
            read_csv(spark, p, self.DOC_SCHEMA)
        )
        assert bad.count() == 0
        a = sorted(map(tuple, docs.collect()))
        b = sorted(map(tuple, clean.select(*docs.columns).collect()))
        assert a == b

    def test_csv_header_variants_filtered(self, spark, tmp_path):
        """Quoted and CRLF header renderings must not leak as data
        rows (r13 advice) — and with a typed column, an exotically
        spaced header quarantines instead of parsing clean."""
        from pg2kafka_spark.sources import read_csv, split_quarantine

        p = tmp_path / "hdr.csv"
        p.write_text(
            '"doc_id","source","lang","text"\r\n'
            "1,s,en,hello\r\n"
            "doc_id,source,lang,text\n"
            "2,s,en,world\n"
            # exotic spacing: not a recognized variant, but doc_id is
            # BIGINT so coercion fails -> quarantine, not a clean row
            "doc_id, source, lang, text\n"
        )
        clean, bad = split_quarantine(
            read_csv(spark, str(p), self.DOC_SCHEMA)
        )
        got = sorted(
            (r.doc_id, r.text.rstrip("\r")) for r in clean.collect()
        )
        assert got == [(1, "hello"), (2, "world")]
        assert bad.count() == 1  # the spaced header, via coercion

    def test_corrupt_column_collision_rejected(self, spark, tmp_path):
        from pg2kafka_spark.sources import read_csv, read_jsonl

        p = tmp_path / "x.jsonl"
        p.write_text('{"a": 1}\n')
        bad_schema = "a bigint, _corrupt_record string"
        for reader in (read_jsonl, read_csv):
            try:
                reader(spark, str(p), bad_schema)
                raise AssertionError("collision must raise")
            except ValueError as e:
                assert "_corrupt_record" in str(e)

    def test_malformed_jsonl_lines_quarantine_not_crash(
        self, spark, tmp_path
    ):
        from pg2kafka_spark.sources import read_jsonl, split_quarantine

        p = tmp_path / "mixed.jsonl"
        p.write_text(
            '{"doc_id": 1, "source": "s", "lang": "en", "text": "ok"}\n'
            "{this is not json at all\n"
            '{"doc_id": 2, "source": "s", "lang": "en", "text": "ok2"}\n'
        )
        clean, bad = split_quarantine(
            read_jsonl(spark, str(p), self.DOC_SCHEMA)
        )
        assert clean.count() == 2
        bad_rows = bad.collect()
        assert len(bad_rows) == 1
        assert "not json" in bad_rows[0]["_corrupt_record"]
        assert bad_rows[0]["doc_id"] is None

    def test_jsonl_parse_stays_jvm_side(self, spark, tmp_path):
        """The parse must run as a JVM projection over the text scan
        (JacksonParser in codegen), never as a Python stage — no
        ArrowEvalPython/BatchEvalPython in the plan."""
        from pg2kafka_spark.sources import read_jsonl

        p = str(tmp_path / "docs_plan")
        self._docs(spark).limit(10).write.json(p)
        plan = (
            read_jsonl(spark, p, self.DOC_SCHEMA)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan
        assert "FileScan text" in plan
        assert "from_json" in plan


class TestCsvAllStringHeaderQuarantine:
    """All-string schemas make header-shaped lines ambiguous with
    data; the reader must route them to quarantine (countable,
    resurrectable) instead of an uncountable drop (r14 advice)."""

    SCHEMA = "a string, b string"

    def test_header_shaped_rows_quarantine_not_drop(self, spark, tmp_path):
        from pg2kafka_spark.sources import read_csv, split_quarantine

        p = tmp_path / "allstr.csv"
        p.write_text(
            "a,b\n"          # real header
            "x,y\n"
            '"a","b"\n'      # data row that renders like the quoted header
            "z,w\n"
        )
        clean, bad = split_quarantine(
            read_csv(spark, str(p), self.SCHEMA)
        )
        assert sorted((r.a, r.b) for r in clean.collect()) == [
            ("x", "y"),
            ("z", "w"),
        ]
        # both header-shaped lines are observable, raw line preserved
        quarantined = sorted(r[ "_corrupt_record"] for r in bad.collect())
        assert quarantined == ['"a","b"', "a,b"]

    def test_typed_schema_still_filters_header(self, spark, tmp_path):
        from pg2kafka_spark.sources import read_csv, split_quarantine

        p = tmp_path / "typed.csv"
        p.write_text("a,b\n1,y\n2,w\n")
        clean, bad = split_quarantine(
            read_csv(spark, str(p), "a bigint, b string")
        )
        assert bad.count() == 0
        assert sorted((r.a, r.b) for r in clean.collect()) == [
            (1, "y"),
            (2, "w"),
        ]

    def test_all_string_corrupt_collision_still_rejected(
        self, spark, tmp_path
    ):
        from pg2kafka_spark.sources import read_csv

        p = tmp_path / "c.csv"
        p.write_text("a,_corrupt_record\nx,y\n")
        try:
            read_csv(spark, str(p), "a string, _corrupt_record string")
            raise AssertionError("collision must raise")
        except ValueError as e:
            assert "_corrupt_record" in str(e)


def test_from_wire_quarantines_malformed_payloads(spark):
    """Consumer-side decode: malformed wire values decode to NULL
    data (PERMISSIVE), clean ones recover the typed row — consumers
    gate on data IS NULL exactly like the text sources."""
    from pg2kafka_spark.operators.wire import from_wire

    msgs = spark.createDataFrame(
        [
            ('{"external_id":"1","statement":"INSERT",'
             '"data":{"uid":7,"plan":"pro"}}',),
            ("{this is not json",),
        ],
        "value string",
    )
    out = from_wire(msgs, "uid bigint, plan string").collect()
    by_ok = {r.data is not None: r for r in out}
    assert by_ok[True].data.uid == 7 and by_ok[True].data.plan == "pro"
    assert by_ok[False].external_id is None


def test_from_wire_rescues_drifted_producer_columns(spark):
    """Schema drift e2e (r16): the producer's table grew columns the
    consumer's pinned schema doesn't know (the reference's jsonb
    capture forwards them unasked). rescue=True surfaces exactly the
    unknown keys with raw-text values — numbers and nested objects
    included — while the typed decode stays intact; an undrifted
    payload rescues an EMPTY map and a malformed one rescues NULL
    (same quarantine gate as data). The edge rows pin the decode of a
    non-object, missing or null ``data``, a type mismatch inside it,
    and a top-level array."""
    from pg2kafka_spark.operators.wire import from_wire

    msgs = spark.createDataFrame(
        [
            # drifted: upstream added added_s (string), added_n
            # (number) and added_o (nested object)
            (0, '{"external_id":"1","statement":"UPDATE",'
                '"data":{"uid":7,"plan":"pro","added_s":"x",'
                '"added_n":25,"added_o":{"a":1}}}'),
            # clean producer, no drift
            (1, '{"external_id":"2","statement":"INSERT",'
                '"data":{"uid":8,"plan":"basic"}}'),
            (2, "{not json"),
            (3, '{"external_id":"3","statement":"INSERT","data":5}'),
            (4, '{"external_id":"4","statement":"INSERT"}'),
            (5, '{"external_id":"5","statement":"INSERT","data":null}'),
            (6, '{"external_id":"6","statement":"INSERT",'
                '"data":{"uid":"notanumber","plan":"pro"}}'),
            (7, '[{"external_id":"7","statement":"INSERT",'
                '"data":{"uid":9,"plan":"x"}}]'),
        ],
        "i int, value string",
    )
    out = from_wire(msgs, "uid bigint, plan string", rescue=True)
    rows = {r.i: r for r in out.collect()}
    drifted = rows[0]
    # typed decode unaffected by the unknown keys
    assert drifted.data.uid == 7 and drifted.data.plan == "pro"
    assert drifted.rescued == {
        "added_s": "x",
        "added_n": "25",
        "added_o": '{"a":1}',
    }
    assert rows[1].rescued == {}
    assert rows[2].external_id is None and rows[2].rescued is None
    # non-object, missing and null data: the envelope survives, data
    # and rescued are NULL
    for i in (3, 4, 5):
        r = rows[i]
        assert (r.external_id, r.statement) == (str(i), "INSERT")
        assert r.data is None and r.rescued is None
    # a type mismatch nulls only the mismatched field; no key drifted
    assert (rows[6].data.uid, rows[6].data.plan) == (None, "pro")
    assert rows[6].rescued == {}
    # a top-level array is not an envelope: everything NULL
    r = rows[7]
    assert (r.uuid, r.external_id, r.statement, r.created_at) == (None,) * 4
    assert r.data is None and r.rescued is None


@pytest.mark.parametrize("rescue, parses", [(False, 1), (True, 2)], ids=["plain", "rescue"])
def test_from_wire_parses_each_message_once(spark, rescue, parses):
    """The envelope is parsed ONCE per message: the five decoded
    columns read one aliased from_json instead of each pruning into its
    own parse; rescue adds exactly one more (data as a string map)."""
    from pg2kafka_spark.operators.wire import from_wire

    msgs = spark.createDataFrame(
        [('{"external_id":"1","statement":"INSERT","data":{"uid":7}}',)],
        "value string",
    )
    out = from_wire(msgs, "uid bigint, plan string", rescue=rescue)
    assert out.collect()[0].data.uid == 7
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == parses, plan


def test_source_signature_tracks_content_identity(spark, tmp_path):
    """The at-rest store cache key must change when the source's
    bytes change (even same-second, same-size rewrites — mtime_ns)
    and stay stable across reads."""
    import os

    from pg2kafka_spark.catalog import source_signature

    d = tmp_path / "t.parquet"
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(str(d))
    s1 = source_signature(str(tmp_path), "t")
    assert s1 == source_signature(str(tmp_path), "t")
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    os.utime(os.path.join(d, part), ns=(1, 1))
    assert source_signature(str(tmp_path), "t") != s1
