"""Constructor/config validation with exact sentinel errors — the pattern of
the reference's table-driven ctor tests (memorylimiter_test.go:30-100) and
config golden tests (kinesis/config_test.go:28-114)."""

from __future__ import annotations

import pytest

from omnition_opentelemetry_service_spark.operators.memorylimiter import (
    ERR_CHECK_INTERVAL,
    ERR_MEM_ALLOC_LIMIT,
    ERR_MEM_SPIKE_LIMIT,
    ERR_NIL_NEXT_CONSUMER,
    MIB,
    MemoryLimiter,
    MemoryLimiterConfig,
)
from omnition_opentelemetry_service_spark.plans.pipeline import (
    ERR_BAD_SALT,
    ERR_NO_INPUT,
    PipelineConfig,
)

_next = lambda df: df  # noqa: E731


@pytest.mark.parametrize(
    "kwargs,err",
    [
        (dict(check_interval_s=0, mem_alloc_limit_mib=100), ERR_CHECK_INTERVAL),
        (dict(check_interval_s=-1, mem_alloc_limit_mib=100), ERR_CHECK_INTERVAL),
        (dict(check_interval_s=1, mem_alloc_limit_mib=0), ERR_MEM_ALLOC_LIMIT),
        (
            dict(check_interval_s=1, mem_alloc_limit_mib=10, mem_spike_limit_mib=10),
            ERR_MEM_SPIKE_LIMIT,
        ),
    ],
)
def test_memorylimiter_ctor_errors(kwargs, err):
    with pytest.raises(ValueError) as ei:
        MemoryLimiter("ml", _next, MemoryLimiterConfig(**kwargs))
    assert str(ei.value) == err


def test_memorylimiter_nil_next_consumer():
    with pytest.raises(ValueError) as ei:
        MemoryLimiter("ml", None, MemoryLimiterConfig(1, 100))
    assert str(ei.value) == ERR_NIL_NEXT_CONSUMER


def test_memorylimiter_mib_conversion():
    cfg = MemoryLimiterConfig(0.25, 4000, 500, 2000)
    assert cfg.mem_alloc_limit_bytes == 4000 * MIB
    assert cfg.mem_spike_limit_bytes == 500 * MIB
    assert cfg.ballast_size_bytes == 2000 * MIB


def test_pipeline_config_valid():
    PipelineConfig(n_rows=100).validate()
    PipelineConfig(sf_dir="/root/testdata/sf0.001").validate()


@pytest.mark.parametrize(
    "kwargs,err",
    [
        (dict(), ERR_NO_INPUT),
        (dict(n_rows=10, salt_buckets=-1), ERR_BAD_SALT),
    ],
)
def test_pipeline_config_errors(kwargs, err):
    with pytest.raises(ValueError) as ei:
        PipelineConfig(**kwargs).validate()
    assert str(ei.value) == err


def test_pipeline_config_n_from_sf_dir():
    assert PipelineConfig(sf_dir="/root/testdata/sf0.01").n == 20_000
    assert PipelineConfig(sf_dir="/root/testdata/sf0.001").n == 2_000
    assert PipelineConfig(n_rows=7).n == 7
