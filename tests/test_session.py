"""build_session's JVM pin: the AVX2 cap (or its CODEDUP_JVM_OPTS
override) must be active in the running driver JVM, and a flag the JVM
did not start with is reported on stderr."""

import os

from codedup.session import missing_jvm_opts


def test_avx2_pin_active_in_driver_jvm(spark, capsys):
    # ``spark`` is the shared session from conftest, built by build_session
    opts = os.environ.get("CODEDUP_JVM_OPTS", "-XX:UseAVX=2")
    assert missing_jvm_opts(spark, opts) == []
    assert "WARNING" not in capsys.readouterr().err


def test_missing_jvm_flag_warns(spark, capsys):
    assert missing_jvm_opts(spark, "-XX:UseAVX=2 -Dcodedup.absent=1") == [
        "-Dcodedup.absent=1"]
    assert "-Dcodedup.absent=1" in capsys.readouterr().err
