"""The shared sampled-text source: every format fails the same way on a
path with no files, at the first action, whatever its codec."""

import pytest

from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
    BgzfTextDataSource,
)
from random_sampling_based_approximate_mapreduce_spark.sources.byteblock_text import (
    ByteBlockTextDataSource,
)
from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
    Bzip2BlockTextDataSource,
)
from random_sampling_based_approximate_mapreduce_spark.sources.sampled_text_source import (
    SampledTextDataSource,
)
from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
    ZstdSeekableTextDataSource,
)

SOURCES = (
    ByteBlockTextDataSource,
    Bzip2BlockTextDataSource,
    ZstdSeekableTextDataSource,
    BgzfTextDataSource,
    SampledTextDataSource,
)


@pytest.mark.parametrize("source", SOURCES, ids=lambda s: s.name())
@pytest.mark.parametrize("layout", ["missing", "empty_dir"])
def test_no_files_under_path_raises(spark, tmp_path, source, layout):
    path = tmp_path / "data"
    if layout == "empty_dir":
        path.mkdir()
    spark.dataSource.register(source)
    df = spark.read.format(source.name()).option("path", str(path)).load()
    with pytest.raises(Exception, match="no files under"):
        df.count()
