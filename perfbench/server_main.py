"""Server process of the serve ledger: binds ``serve.make_server`` on a
free local port, prints the port on one line, and serves until it is
terminated."""

from pdf_extractor2_spark.serve import make_server


def main() -> None:
    srv = make_server("127.0.0.1", 0)
    print(srv.server_address[1], flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
