"""build_session's JVM options: the default string follows the master
(the AVX2 cap everywhere, one C2 JIT thread for ``local[N]``, N <= 4),
it (or its CODEDUP_JVM_OPTS override) must be active in the running
driver JVM, and a flag the JVM did not start with is reported on
stderr."""

import os

import pytest

from codedup.session import default_jvm_opts, missing_jvm_opts


@pytest.mark.parametrize("master, opts", [
    ("local[1]", "-XX:UseAVX=2 -XX:CICompilerCount=2"),   # tiered JIT's floor
    ("local[4]", "-XX:UseAVX=2 -XX:CICompilerCount=2"),
    ("local[8]", "-XX:UseAVX=2"),                        # HotSpot's own sizing
    ("local[32]", "-XX:UseAVX=2"),
    (None, "-XX:UseAVX=2"),
])
def test_default_jvm_opts(master, opts):
    assert default_jvm_opts(master) == opts


def test_avx2_pin_active_in_driver_jvm(spark, capsys):
    # ``spark`` is the shared session from conftest, built by
    # build_session("local[4]")
    opts = os.environ.get("CODEDUP_JVM_OPTS", default_jvm_opts("local[4]"))
    assert missing_jvm_opts(spark, opts) == []
    assert "WARNING" not in capsys.readouterr().err


def test_missing_jvm_flag_warns(spark, capsys):
    assert missing_jvm_opts(spark, "-XX:UseAVX=2 -Dcodedup.absent=1") == [
        "-Dcodedup.absent=1"]
    assert "-Dcodedup.absent=1" in capsys.readouterr().err
