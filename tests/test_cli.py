"""CLI argument validation: malformed input fails with a usage error
(exit status 2) before any Spark session starts."""

import pytest

from spark_search import cli


@pytest.mark.parametrize(
    "spec",
    [
        "path/idx:2.0",  # no '='
        "path=/idx/path",  # no weight
        "path=s3a://bucket/idx",  # no weight; the URI's ':' is not one
        "path=/idx/path:heavy",  # weight is not a number
    ],
)
def test_multifield_bad_field_index_is_usage_error(spec, capsys, monkeypatch):
    monkeypatch.setattr(
        cli, "_session", lambda args: pytest.fail("Spark started")
    )
    with pytest.raises(SystemExit) as ei:
        cli.main(
            ["multifield", "--index", "/idx/content", "--field-index", spec,
             "--terms", "data"]
        )
    assert ei.value.code == 2
    err = capsys.readouterr().err
    assert "--field-index must be NAME=DIR:WEIGHT" in err
    assert "Traceback" not in err


@pytest.mark.parametrize(
    "spec, parsed",
    [
        ("path=/idx/path:2.5", ("path", "/idx/path", 2.5)),
        ("path=s3a://bucket/idx:1.5", ("path", "s3a://bucket/idx", 1.5)),
        ("path=s3a://host:9000/idx:3", ("path", "s3a://host:9000/idx", 3.0)),
    ],
)
def test_field_index_splits_weight_at_last_colon(spec, parsed):
    import argparse

    assert cli._parse_field_index(argparse.ArgumentParser(), spec) == parsed
