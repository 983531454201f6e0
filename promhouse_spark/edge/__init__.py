"""Protocol edge: everything that talks the reference's wire formats.

The snappy block codec wraps pyarrow's; the rest is pure Python (no
protobuf dependency): a hand-rolled protobuf wire codec for the prompb messages
(``prompb/prompb.proto``), the length-prefixed framed file format
(``cmd/promload/file.go:63-108``), the Prometheus text exposition parser
(``cmd/promload/exporter.go:96-159``), the HTTP read/write handlers
(``handlers/prom.go``), and the promload copy CLI (``cmd/promload``).
"""
