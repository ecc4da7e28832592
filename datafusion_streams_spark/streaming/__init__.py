"""Structured-Streaming layer: the micro-batch drain runner mirroring the
reference's execution semantics, plus streaming query registrations."""
