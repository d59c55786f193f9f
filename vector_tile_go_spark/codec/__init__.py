from .decode import decode_tile, parse_tile
from .encode import LayerEncoder, encode_layer

__all__ = ["decode_tile", "parse_tile", "LayerEncoder", "encode_layer"]
