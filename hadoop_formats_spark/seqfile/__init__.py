from .core import (  # noqa: F401
    Header,
    RecordBlock,
    SeqFileError,
    SeqFileWriter,
    iter_block_counts,
    iter_blocks,
    read_file,
    read_header,
    write_table,
)
from . import mapfile  # noqa: F401  (MapFile companion format)
from .mapfile import map_get, read_map_dir, write_map_dir  # noqa: F401
from . import bloom  # noqa: F401  (BloomMapFile support)
from .bloom import bloom_map_get, write_bloom_map_dir  # noqa: F401
from . import setfile  # noqa: F401  (SetFile / ArrayFile support)
from .setfile import (  # noqa: F401
    array_get,
    array_length,
    set_contains,
    write_array_dir,
    write_set_dir,
)
