"""The one sink-ownership rule (``plans.checkpoint.check_sink_owner``),
cell by cell, through the CLI. Batch, stream and ``--log-file`` runs share
one routed sink layout and keep out of each other's sinks by the prefix
of its idempotence markers; a refusal must come before any side effect:
exit 2, no Spark session, and not one byte of the layout changed — not
even by ``--generate``. Layouts are built without Spark (empty commits
under the markers each mode mints, a hand-written stream checkpoint), and
``session.get_spark`` is patched to raise, so a run that proceeds stops
exactly where the session would start.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from access_log_aggregator_spark import cli, session  # noqa: E402
from access_log_aggregator_spark.plans.checkpoint import (  # noqa: E402
    SinkOwnershipError,
    check_sink_owner,
    mint_marker,
    parse_marker,
)
from access_log_aggregator_spark.sources.tableio import (  # noqa: E402
    SnapshotTable,
)


class SessionStarted(Exception):
    """Raised in place of starting a Spark session."""


def _layout(root: Path, markers=(), stream=None, cursor=None,
            offsets=None) -> None:
    """Build ``<root>/{pages,out,checkpoint.json,checkpoint.stream_ckpt}``.

    ``markers``: routed-sink commits. ``stream``: None, ``"drained"``
    (a registered stream checkpoint whose file-source log lists both
    pages snapshots' files) or ``"unreadable"`` (registered, log gone).
    ``cursor``: the batch checkpoint's last_snapshot_id. ``offsets``:
    None, ``"bare"`` (an empty offsets/ dir) or ``"committed"``."""
    if markers:
        routed = SnapshotTable.create(root / "out" / "routed", "routed")
        for m in markers:
            routed._commit_files([], 0, marker=m)
    ckpt = root / "checkpoint.stream_ckpt"
    if stream:
        pages = SnapshotTable.create(root / "pages", "pages")
        for lo in (0, 2):
            pages.append_pandas(pd.DataFrame({"url": [f"u{lo}", f"u{lo + 1}"]}))
        pages.register_stream(ckpt)
        if stream == "drained":
            src = ckpt / "sources" / "0"
            src.mkdir(parents=True)
            files = [f for s in pages.snapshots() for f in s.files]
            (src / "0").write_text("v1\n" + "\n".join(
                json.dumps({"path": f"file:///x/{Path(f).name}"})
                for f in files) + "\n")
    if cursor is not None:
        (root / "checkpoint.json").write_text(
            json.dumps({"last_snapshot_id": cursor, "batches": []}))
    if offsets:
        (ckpt / "offsets").mkdir(parents=True)
        if offsets == "committed":
            (ckpt / "offsets" / "0").write_text("v1\n{}\n")


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


LOGFILE = mint_marker("logfiles", "0123456789ab")
BATCH = mint_marker("batch", 1)
STREAM = mint_marker("stream", 0)

#: (mode, layout, extra flags, refusal text or None to proceed)
CELLS = {
    # --log-file refuses any marker it did not mint
    "logfiles-over-batch": ("logfiles", dict(markers=[BATCH]), [],
                            "managed by the snapshot pipeline"),
    "logfiles-over-stream": ("logfiles", dict(markers=[STREAM]), [],
                             "managed by the snapshot pipeline"),
    "logfiles-over-own": ("logfiles", dict(markers=[LOGFILE]), [], None),
    "logfiles-fresh": ("logfiles", {}, [], None),
    # batch refuses logfiles-*, and a pages table a stream drained past
    # the batch cursor or whose drain state is unreadable
    "batch-over-logfiles": ("batch", dict(markers=[LOGFILE]), [],
                            "managed by --log-file"),
    "batch-over-batch": ("batch", dict(markers=[BATCH]), [], None),
    "batch-over-stream-markers": ("batch", dict(markers=[STREAM]), [], None),
    "batch-behind-stream": ("batch", dict(stream="drained", cursor=1), [],
                            "ahead of the batch cursor (1"),
    "batch-fresh-cursor-behind-stream": ("batch", dict(stream="drained"), [],
                                         "ahead of the batch cursor (0"),
    "batch-from-start-behind-stream": ("batch",
                                       dict(stream="drained", cursor=2),
                                       ["--from-start"],
                                       "ahead of the batch cursor (0"),
    "batch-unreadable-stream": ("batch", dict(stream="unreadable",
                                              cursor=2), [],
                                "drain state cannot be read"),
    "batch-caught-up-with-stream": ("batch", dict(stream="drained",
                                                  cursor=2), [], None),
    # stream refuses logfiles-*, pages-snap-*, and stream-* unless its
    # own checkpoint holds committed offsets
    "stream-over-logfiles": ("stream", dict(markers=[LOGFILE]), [],
                             "managed by --log-file"),
    "stream-over-batch": ("stream", dict(markers=[BATCH]), [],
                          "already holds batch-committed rows"),
    "stream-fresh-over-stream": ("stream", dict(markers=[STREAM]), [],
                                 "another stream checkpoint"),
    "stream-bare-offsets-over-stream": ("stream",
                                        dict(markers=[STREAM],
                                             offsets="bare"), [],
                                        "another stream checkpoint"),
    "stream-resume": ("stream", dict(markers=[STREAM], offsets="committed"),
                      [], None),
    "stream-fresh": ("stream", {}, [], None),
    # maintenance-only runs route nothing, so nothing is refused
    "maintenance-over-logfiles": ("maintenance", dict(markers=[LOGFILE]), [],
                                  None),
}

MODE_FLAGS = {"batch": ["--generate", "20"],
              "stream": ["--generate", "20", "--stream"],
              "maintenance": ["--maintenance-only"]}


@pytest.mark.parametrize("cell", sorted(CELLS))
def test_ownership_cell(cell, tmp_path, monkeypatch, capsys):
    mode, layout, extra, refusal = CELLS[cell]
    root = tmp_path / "data"
    root.mkdir()
    _layout(root, **layout)
    if mode == "logfiles":
        log = tmp_path / "a.log"
        log.write_text('{"time":"2026-01-02T03:04:05Z","host":"h.example",'
                       '"status_code":200,"duration":0.5}\n')
        argv = ["--log-file", str(log), "--out", str(root / "out")]
    else:
        # --generate must not append before a refusal
        argv = ["--data-dir", str(root), *MODE_FLAGS[mode], *extra]

    def no_session(*_a, **_k):
        raise SessionStarted

    monkeypatch.setattr(session, "get_spark", no_session)
    before = _tree(root)
    if refusal is None:
        with pytest.raises(SessionStarted):
            cli.main(argv)
    else:
        with pytest.raises(SystemExit) as ei:
            cli.main(argv)
        assert ei.value.code == 2
        assert refusal in capsys.readouterr().err
    assert _tree(root) == before


def test_predicate_is_the_library_guard(tmp_path):
    """The CLI and the streaming entry points share one predicate and one
    exception type, a RuntimeError subclass (library callers that catch
    RuntimeError keep working)."""
    _layout(tmp_path, markers=[STREAM])
    with pytest.raises(SinkOwnershipError, match="another stream checkpoint"):
        check_sink_owner("stream", tmp_path / "out",
                         stream_checkpoint=tmp_path / "fresh_ckpt")
    assert issubclass(SinkOwnershipError, RuntimeError)
    check_sink_owner("batch", tmp_path / "out", pages=tmp_path / "pages",
                     checkpoint=tmp_path / "checkpoint.json")


def test_marker_round_trip():
    for mode in ("batch", "stream", "logfiles"):
        assert parse_marker(mint_marker(mode, 7)) == (mode, "7")
    assert parse_marker("gen-42-0") == (None, "gen-42-0")
