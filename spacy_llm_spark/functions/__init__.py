"""Column/batch kernels: response parsers, label normalizers, text
analysis and RDF serialization. Import each submodule directly; nothing
is loaded here.
"""
